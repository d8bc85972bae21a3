package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.StorageOps

/** Verifies the storage-layout levers actually delete shuffles /
  * prune files — the properties SCALE.md claims for them.
  */
class StorageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf001 = "/root/testdata/sf0.001"

  test("bucketed table: bucket-key self-join plans ZERO exchanges") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    StorageOps.writeBucketed(docs, "docs_bucketed", "doc_id", 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the join must pick sort-merge — the case
      // where bucketing either saves the shuffle or doesn't
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = spark.table("docs_bucketed")
      val joined = t.as("a").join(t.as("b"), "doc_id")
        .select(col("doc_id"), col("a.n_chars"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed self-join must not shuffle, got:\n$plan")
      assert(joined.count() == docs.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS docs_bucketed")
    }
  }

  test("bucketed table: groupBy on the bucket key plans zero exchanges") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    StorageOps.writeBucketed(docs, "docs_bucketed2", "doc_id", 4)
    try {
      val agg = spark.table("docs_bucketed2")
        .groupBy("doc_id").agg(sum("n_chars").as("s"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-key groupBy must not shuffle, got:\n$plan")
      assert(agg.count() == docs.count())
    } finally spark.sql("DROP TABLE IF EXISTS docs_bucketed2")
  }

  test("partitioned table: partition predicate prunes at planning time") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    StorageOps.writePartitioned(docs, "docs_by_lang", "lang")
    try {
      val one = spark.table("docs_by_lang").where(col("lang") === "en")
      val scan = one.queryExecution.executedPlan.toString
      // pruned scan reads only the matching partition directory
      assert(scan.contains("PartitionFilters") || scan.contains("lang=en") ||
        one.inputFiles.forall(_.contains("lang=en")),
        s"expected partition pruning, got:\n$scan")
      val expected = docs.where(col("lang") === "en").count()
      assert(one.count() == expected)
    } finally spark.sql("DROP TABLE IF EXISTS docs_by_lang")
  }

  test("scd2Merge: two batches build correct version chains") {
    import spark.implicits._
    import graft.ops.StorageOps
    val b0 = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val dim0 = StorageOps.scd2Init(b0, "k", Seq("v"))
    // batch 1: k=1 changes, k=2 unchanged, k=4 new
    val u1 = Seq((1L, 11L), (2L, 20L), (4L, 40L)).toDF("k", "v")
    val dim1 = StorageOps.scd2Merge(dim0, u1, "k", Seq("v"), 1L)
    // batch 2: k=1 changes again, k=3 changes for the first time
    val u2 = Seq((1L, 12L), (3L, 31L)).toDF("k", "v")
    val dim2 = StorageOps.scd2Merge(dim1, u2, "k", Seq("v"), 2L)
    val rows = dim2.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    val E = StorageOps.OpenEnd
    assert(rows.toSeq == Seq(
      (1L, 10L, 0L, 1L, false), (1L, 11L, 1L, 2L, false), (1L, 12L, 2L, E, true),
      (2L, 20L, 0L, E, true),
      (3L, 30L, 0L, 2L, false), (3L, 31L, 2L, E, true),
      (4L, 40L, 1L, E, true)))
    // invariants: exactly one open version per key; closed spans chain
    rows.groupBy(_._1).foreach { case (k, vs) =>
      assert(vs.count(_._5) == 1, s"key $k open-version count")
      vs.sortBy(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"key $k span gap")
        case _ => ()
      }
    }
  }

  test("scd2Merge: null-key open rows survive and version like any key") {
    import spark.implicits._
    import graft.ops.StorageOps
    val E = StorageOps.OpenEnd
    val b0 = Seq((Some(1L), 10L), (None, 99L)).toDF("k", "v")
    val dim0 = StorageOps.scd2Init(b0, "k", Seq("v"))
    // batch 1 doesn't mention the null key: its open row must pass through
    val dim1 = StorageOps.scd2Merge(dim0,
      Seq((Some(1L), 11L)).toDF("k", "v"), "k", Seq("v"), 1L)
    val nullRows1 = dim1.where(col("k").isNull).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(nullRows1.toSeq == Seq((99L, 0L, E, true)),
      s"null-key open row dropped or mutated: ${nullRows1.toSeq}")
    // batch 2 updates the null key: it closes + re-opens (null-safe match)
    val dim2 = StorageOps.scd2Merge(dim1,
      Seq((Option.empty[Long], 100L)).toDF("k", "v"), "k", Seq("v"), 2L)
    val nullRows2 = dim2.where(col("k").isNull).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .sortBy(_._2)
    assert(nullRows2.toSeq == Seq((99L, 0L, 2L, false), (100L, 2L, E, true)))
  }

  test("scd2Snapshot: time travel reconstructs each batch's state") {
    import spark.implicits._
    import graft.ops.StorageOps
    val dim0 = StorageOps.scd2Init(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "k", Seq("v"))
    val dim1 = StorageOps.scd2Merge(dim0,
      Seq((1L, 11L), (3L, 30L)).toDF("k", "v"), "k", Seq("v"), 1L)
    val dim2 = StorageOps.scd2Merge(dim1,
      Seq((1L, 12L)).toDF("k", "v"), "k", Seq("v"), 2L)
    def snap(t: Long) = StorageOps.scd2Snapshot(dim2, t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap(0L) == Map(1L -> 10L, 2L -> 20L))
    assert(snap(1L) == Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
    assert(snap(2L) == Map(1L -> 12L, 2L -> 20L, 3L -> 30L))
    // the latest snapshot equals the is_current slice
    val current = dim2.where(col("is_current"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap(2L) == current)
  }

  test("zValue interleaves bits round-robin, hand-checked") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .withColumn("z", StorageOps.zValue(Seq(col("x"), col("y"))))
    val got = df.select("z").as[Long].collect().toSeq
    // (3,5): x bits 11, y bits 101 → z = y2 x2 y1 x1 y0 x0 = 100111 = 39
    assert(got == Seq(0L, 1L, 2L, 39L, (1L << 32) - 1))
  }

  test("zorderWrite: per-file rectangles shrink on BOTH dims vs one-dim sort") {
    val orders = spark.read.parquet(s"$sf001/orders.parquet").select(
      pmod(col("o_custkey"), lit(65536L)).as("x"),
      pmod(floor(col("o_totalprice") / 16).cast("long"), lit(65536L)).as("y"))
    val out = "/tmp/graft-zorder-test"
    val nFiles = 8
    StorageOps.zorderWrite(orders, Seq(col("x"), col("y")), out, nFiles)

    def avgRange(dir: String, dim: String): Double = {
      val files = spark.read.parquet(dir).inputFiles
      val spans = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(dim).as("lo"), max(dim).as("hi")).head
        (r.getLong(1) - r.getLong(0)).toDouble
      }
      spans.sum / spans.length
    }
    // baseline: sort by x only — y locality is destroyed (each file
    // spans nearly the full y range); z-order keeps BOTH dims compact
    val base = "/tmp/graft-xsort-test"
    orders.repartitionByRange(nFiles, col("x"))
      .sortWithinPartitions("x")
      .write.mode("overwrite").parquet(base)
    val (zx, zy) = (avgRange(out, "x"), avgRange(out, "y"))
    val (bx, by) = (avgRange(base, "x"), avgRange(base, "y"))
    // x-sorted files are near-perfect on x; z-order trades a little x
    // width for a y range that's a FRACTION of the x-sort baseline's
    assert(zy < by / 2, s"z-order y-range $zy not < half of x-sort's $by")
    assert(zx < (65536.0 * 0.75) && bx < zx,
      s"z-order x-range $zx should be sub-global but wider than x-sort's $bx")
  }

  test("delta-log replay: last action wins, re-add resurrects, noise lines ignored") {
    val dir = java.nio.file.Files.createTempDirectory("dlog")
    def commit(v: Int, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(f"$v%020d.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    commit(0, Seq(
      """{"commitInfo":{"timestamp":1}}""",
      """{"protocol":{"minReaderVersion":1}}""",
      """{"add":{"path":"a.parquet","size":10,"dataChange":true}}""",
      """{"add":{"path":"b.parquet","size":20,"dataChange":true}}"""))
    commit(1, Seq("""{"remove":{"path":"a.parquet"}}""",
      """{"add":{"path":"c.parquet","size":30,"dataChange":true}}"""))
    commit(2, Seq( // a returns with a NEW size; b is rewritten in place
      """{"add":{"path":"a.parquet","size":11,"dataChange":true}}""",
      """{"add":{"path":"b.parquet","size":21,"dataChange":true}}"""))
    commit(3, Seq("""{"remove":{"path":"c.parquet"}}"""))
    val got = graft.ops.StorageOps.deltaLogState(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == Seq(
      ("a.parquet", 11L, 2L), // resurrected by the v2 re-add
      ("b.parquet", 21L, 2L)  // latest add wins over the v0 one
    ))                        // c removed at v3; protocol/commitInfo ignored
  }

  test("hudi timeline replay: newest slice wins, replace kills, inflight ignored") {
    val dir = java.nio.file.Files.createTempDirectory("hooditl")
    def write(name: String, json: String): Unit =
      java.nio.file.Files.write(dir.resolve(name), json.getBytes("UTF-8"))
    // instant 1: two groups in two partitions
    write("1.commit",
      """{"partitionToWriteStats":{
        |"pt=a":[{"fileId":"g1","path":"pt=a/g1_1.parquet","fileSizeInBytes":10},
        |        {"fileId":"g2","path":"pt=a/g2_1.parquet","fileSizeInBytes":20}],
        |"pt=b":[{"fileId":"g1","path":"pt=b/g1_1.parquet","fileSizeInBytes":30}]}}"""
        .stripMargin.replace("\n", ""))
    // instant 2: g1@pt=a updated (new slice supersedes)
    write("2.commit",
      """{"partitionToWriteStats":{"pt=a":[{"fileId":"g1","path":"pt=a/g1_2.parquet","fileSizeInBytes":11}]}}""")
    // instant 3: clustering replaces g2@pt=a, writes g3 there
    write("3.replacecommit",
      """{"partitionToWriteStats":{"pt=a":[{"fileId":"g3","path":"pt=a/g3_3.parquet","fileSizeInBytes":40}]},
        |"partitionToReplaceFileIds":{"pt=a":["g2"]}}""".stripMargin.replace("\n", ""))
    // an INFLIGHT commit must be invisible (not yet completed)
    write("4.commit.inflight",
      """{"partitionToWriteStats":{"pt=a":[{"fileId":"g9","path":"x","fileSizeInBytes":1}]}}""")
    val got = graft.ops.StorageOps.hudiTimelineState(spark, dir.toString)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sorted
    assert(got.toSeq == Seq(
      ("pt=a", "g1", "pt=a/g1_2.parquet", 11L, 2L), // newest slice
      ("pt=a", "g3", "pt=a/g3_3.parquet", 40L, 3L), // replacecommit's write
      ("pt=b", "g1", "pt=b/g1_1.parquet", 30L, 1L)  // same id, other partition
    )) // g2 clustered away; inflight g9 invisible
  }

  test("delta checkpoint replay: live set == full replay; only trailing commits read") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, struct}
    val dir = java.nio.file.Files.createTempDirectory("dlogcp")
    def commit(v: Int, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(f"$v%020d.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    commit(0, Seq("""{"add":{"path":"a.parquet","size":10,"dataChange":true}}""",
      """{"add":{"path":"b.parquet","size":20,"dataChange":true}}"""))
    commit(1, Seq("""{"remove":{"path":"a.parquet"}}""",
      """{"add":{"path":"c.parquet","size":30,"dataChange":true}}"""))
    // checkpoint at v1: live = b, c; tombstone for a
    val cp = Seq(("b.parquet", 20L), ("c.parquet", 30L))
      .toDF("p", "sz")
      .select(struct(col("p").as("path"), col("sz").as("size"),
        lit(true).as("dataChange")).as("add"),
        lit(null).cast("struct<path:string>").as("remove"))
      .unionByName(Seq("a.parquet").toDF("p")
        .select(lit(null)
          .cast("struct<path:string,size:bigint,dataChange:boolean>").as("add"),
          struct(col("p").as("path")).as("remove")))
    val tmp = dir.resolve("_build")
    cp.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part, dir.resolve(f"${1}%020d.checkpoint.parquet"))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(tmp.toFile)
    java.nio.file.Files.write(dir.resolve("_last_checkpoint"),
      """{"version":1,"size":3}""".getBytes("UTF-8"))
    // trailing commits: a resurrects at v2, c removed at v3
    commit(2, Seq("""{"add":{"path":"a.parquet","size":11,"dataChange":true}}"""))
    commit(3, Seq("""{"remove":{"path":"c.parquet"}}"""))
    val got = graft.ops.StorageOps
      .deltaLogStateFromCheckpoint(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == Seq(
      ("a.parquet", 11L, 2L), // resurrected over the checkpoint tombstone
      ("b.parquet", 20L, 1L)  // from the checkpoint, version clamped to 1
    ))
    // equivalence law: the live (path, size) set must equal the full
    // JSON replay's — the checkpoint may not change the answer
    val full = graft.ops.StorageOps.deltaLogState(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got.map(t => (t._1, t._2)).toSeq == full.toSeq)
    // PROOF the subsumed commits are not read: corrupt commit 0 on
    // disk — the checkpoint path must not notice, the full replay must
    java.nio.file.Files.write(dir.resolve(f"${0}%020d.json"),
      "not json at all".getBytes("UTF-8"))
    val got2 = graft.ops.StorageOps
      .deltaLogStateFromCheckpoint(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(got2.toSeq == got.toSeq)
    // no _last_checkpoint → transparent fallback to the full replay
    java.nio.file.Files.delete(dir.resolve("_last_checkpoint"))
    commit(0, Seq("""{"add":{"path":"a.parquet","size":10,"dataChange":true}}""",
      """{"add":{"path":"b.parquet","size":20,"dataChange":true}}"""))
    val fb = graft.ops.StorageOps
      .deltaLogStateFromCheckpoint(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(fb.toSeq == Seq(("a.parquet", 11L), ("b.parquet", 20L)))
  }

  test("parquet footer census: Spark-written dir of parts, exact accounting") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("footers").toString
    val n = 5000L
    spark.range(n).select(col("id"), (col("id") % 7).as("grp"),
        concat(lit("txt"), col("id")).as("s"))
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rows = graft.ops.StorageOps.parquetFooters(spark, Seq(s"$dir/t.parquet"))
      .collect()
    // every part file reports all 3 columns per row group
    val byFile = rows.groupBy(_.getString(0))
    assert(byFile.size == 3, s"expected 3 part files, saw ${byFile.keys}")
    byFile.values.foreach { rs =>
      assert(rs.map(_.getString(3)).toSet == Set("id", "grp", "s"))
      // num_values equals the row-group row count for flat columns
      rs.foreach(r => assert(r.getLong(4) == r.getLong(2)))
      rs.foreach(r => assert(r.getLong(5) > 0L && r.getLong(6) > 0L))
    }
    // total rows across row groups = what was written (per column)
    val idRows = rows.filter(_.getString(3) == "id").map(_.getLong(2)).sum
    assert(idRows == n)
    // the driver-side listing bound is a loud require, not an OOM
    val err = intercept[IllegalArgumentException] {
      graft.ops.StorageOps.parquetFooters(spark, Seq(s"$dir/t.parquet"),
        maxFiles = 1)
    }
    assert(err.getMessage.contains("maxFiles"))
    // the census never reads data pages: bytes accounted must equal the
    // footer's own claims when re-read via a second footer pass
    val again = graft.ops.StorageOps.parquetFooters(spark, Seq(s"$dir/t.parquet"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3)) ->
        (r.getLong(5), r.getLong(6))).toMap
    rows.foreach { r =>
      assert(again((r.getString(0), r.getLong(1), r.getString(3))) ==
        ((r.getLong(5), r.getLong(6))))
    }
  }

  test("iceberg metadata.json: snapshot rows, current flag, version gate, malformed drop") {
    import spark.implicits._
    val good = StorageOps.icebergMetadata(
      StorageOps.synthesizeIcebergMetadata(
        Seq(5L).toDF("doc_id"), "doc_id"), "id", "metadata_json")
      .collect().sortBy(_.getLong(3))
    assert(good.length == 3) // 1 + 5 % 3
    assert(good.map(_.getLong(3)).toSeq == Seq(3005L, 3006L, 3007L))
    assert(good.map(_.getLong(7)).toSeq == Seq(0L, 0L, 1L)) // last is current
    assert(good.head.getString(6) == "append" &&
      good.last.getString(6) == "overwrite")
    assert(good.head.getLong(1) == 2L) // format version 1 + 5 % 2
    // unknown format version and malformed JSON both yield NO rows —
    // reject, never mis-read
    val bad = Seq(
      (1L, """{"format-version":3,"current-snapshot-id":1,"snapshots":[{"snapshot-id":1}]}"""),
      (2L, """not json at all"""),
      (3L, null.asInstanceOf[String]))
      .toDF("id", "metadata_json")
    assert(StorageOps.icebergMetadata(bad, "id", "metadata_json").count() == 0)
  }

  test("orc footer census: from-spec walk == orc-core reader; strict rejects; fuzz") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("orcfoot").toString
    val n = 60000L // enough rows for multiple stripes at a small stripe size
    spark.range(n).select(col("id"), (col("id") % 7).as("grp"),
        concat(lit("some text payload "), col("id")).as("s"))
      .coalesce(1)
      .write.mode("overwrite").option("compression", "zlib")
      .option("orc.stripe.size", (256 * 1024).toString)
      .orc(s"$dir/t")
    val rows = StorageOps.orcFooters(spark, Seq(s"$dir/t")).collect()
    assert(rows.nonEmpty)
    val files = rows.map(_.getString(0)).distinct
    assert(files.length == 1)
    // independent-reader cross-check: orc-core (Spark's bundled ORC
    // library) must agree on EVERY stripe's geometry and row count —
    // the walk is hand-rolled protobuf, so agreement is two readers
    val localOrc = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "t"))
      .filter(p => p.toString.endsWith(".orc")).findFirst().get().toString
    val fsPath = new org.apache.hadoop.fs.Path(localOrc)
    val reader = org.apache.orc.OrcFile.createReader(fsPath,
      org.apache.orc.OrcFile.readerOptions(
        spark.sparkContext.hadoopConfiguration))
    try {
      import scala.jdk.CollectionConverters._
      val expStripes = reader.getStripes.asScala.toVector
      assert(rows.length == expStripes.length,
        s"stripe count ${rows.length} vs orc-core ${expStripes.length}")
      assert(rows.length > 1, "fixture must span multiple stripes")
      val sorted = rows.sortBy(_.getLong(6)) // stripe_id
      sorted.zip(expStripes).foreach { case (r, e) =>
        assert(r.getLong(7) == e.getOffset, "stripe_offset")
        assert(r.getLong(8) == e.getIndexLength, "index_length")
        assert(r.getLong(9) == e.getDataLength, "data_length")
        assert(r.getLong(10) == e.getFooterLength, "stripe_footer_length")
        assert(r.getLong(11) == e.getNumberOfRows, "stripe_rows")
      }
      assert(sorted.head.getLong(3) == reader.getNumberOfRows) // total_rows
      assert(sorted.head.getLong(3) == n)
      assert(sorted.head.getString(1) == reader.getCompressionKind.name)
      // n_types: struct root + one per column
      assert(sorted.head.getLong(2) == 4L)
      assert(sorted.head.getLong(4) == reader.getContentLength)
    } finally reader.close()
    // strict rejects, never a mis-census: non-ORC bytes, truncation,
    // and an unsupported metadata codec
    val whole = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(localOrc))
    assert(StorageOps.orcFooterOf(whole).nonEmpty)
    assert(StorageOps.orcFooterOf(null).isEmpty)
    assert(StorageOps.orcFooterOf("PAR1 not orc".getBytes).isEmpty)
    assert(StorageOps.orcFooterOf(
      java.util.Arrays.copyOf(whole, whole.length / 2)).isEmpty)
    // snappy-coded metadata rejects loudly (we do not decode snappy)
    val snapDir = java.nio.file.Files.createTempDirectory("orcsnap").toString
    spark.range(100).coalesce(1)
      .write.mode("overwrite").option("compression", "snappy")
      .orc(s"$snapDir/t")
    val err = intercept[org.apache.spark.SparkException] {
      StorageOps.orcFooters(spark, Seq(s"$snapDir/t")).collect()
    }
    assert(err.getMessage.contains("orcFooters") ||
      Option(err.getCause).exists(_.getMessage.contains("orcFooters")))
    // seeded fuzz: byte flips / truncations parse to Some or None,
    // never throw (the media-parser contract)
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 400) {
      val m = whole.clone()
      (0 to rnd.nextInt(4)).foreach { _ =>
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      val victim =
        if (rnd.nextInt(3) == 0) m.take(rnd.nextInt(m.length)) else m
      try StorageOps.orcFooterOf(victim)
      catch { case e: Throwable => fail(s"orc fuzz trial $trial threw: $e") }
    }
  }

  test("parquetFootersDistributed == driver-listing flavor on a partitioned tree") {
    import graft.ops.StorageOps
    // a partitioned table: the layout whose per-partition dirs become
    // the distributed flavor's shards
    val dir = java.nio.file.Files.createTempDirectory("pqdist").toString
    spark.range(0, 4000).selectExpr("id", "id % 7 AS part", "id * 3 AS v")
      .repartition(4)
      .write.mode("overwrite").partitionBy("part").parquet(s"$dir/t")
    // driver flavor needs the leaf files (its listing is one level);
    // hand it every partition dir
    val leafDirs = new java.io.File(s"$dir/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("part="))
      .map(_.toString).toSeq
    assert(leafDirs.size == 7)
    val viaDriver = StorageOps.parquetFooters(spark, leafDirs)
      .collect().map(_.toString).sorted.toSeq
    // distributed flavor gets the TABLE ROOT: the driver lists only
    // the 7 partition dirs; tasks walk each subtree recursively.
    // Compare as sorted multisets — file BASENAMES repeat across
    // partition dirs, so no column order is total here
    val viaDist = StorageOps.parquetFootersDistributed(spark, Seq(s"$dir/t"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaDist == viaDriver && viaDist.nonEmpty)
    // a file root (no directory level) also works
    val oneFile = new java.io.File(leafDirs.head).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toString
    assert(StorageOps.parquetFootersDistributed(spark, Seq(oneFile))
      .count() == StorageOps.parquetFooters(spark, Seq(oneFile)).count())
    // the per-shard bound rejects loudly, like the driver flavor's
    val err = intercept[org.apache.spark.SparkException] {
      StorageOps.parquetFootersDistributed(spark, Seq(s"$dir/t"),
        maxFilesPerShard = 1).collect()
    }
    assert(err.getMessage.contains("maxFilesPerShard") ||
      Option(err.getCause).exists(_.getMessage.contains("maxFilesPerShard")))
  }

  test("orcStripeStats: multi-stripe zone maps match orc-core's getStripeStatistics") {
    import graft.ops.StorageOps
    val dir = java.nio.file.Files.createTempDirectory("orcstats").toString
    // write THROUGH orc-core with an explicit tiny stripe size —
    // multiple stripes guaranteed, and the fixture bytes come from an
    // independent writer, not our own code (Spark's DataFrameWriter
    // does not forward the stripe-size knob)
    val orcFile = new java.io.File(s"$dir/t/fixture.orc")
    orcFile.getParentFile.mkdirs()
    val schema = org.apache.orc.TypeDescription.fromString(
      "struct<id:bigint,small:int,v:bigint,s:string,d:double,dt:date," +
        "ts:timestamp>")
    val writer = org.apache.orc.OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(orcFile.toString),
      org.apache.orc.OrcFile.writerOptions(
          spark.sparkContext.hadoopConfiguration)
        .setSchema(schema)
        .stripeSize(65536L)
        .compress(org.apache.orc.CompressionKind.ZLIB))
    val batch = schema.createRowBatch()
    val idV = batch.cols(0).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
    val smV = batch.cols(1).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
    val vV = batch.cols(2).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
    val sV = batch.cols(3).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.BytesColumnVector]
    val dV = batch.cols(4).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.DoubleColumnVector]
    val dtV = batch.cols(5).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
    val tsV = batch.cols(6).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.TimestampColumnVector]
    vV.noNulls = false
    var i = 0L
    while (i < 200000L) {
      val r = batch.size
      idV.vector(r) = i
      smV.vector(r) = i % 97
      if (i % 11 == 0) { vV.isNull(r) = true; vV.vector(r) = 0L }
      else { vV.isNull(r) = false; vV.vector(r) = i * 3 }
      sV.setVal(r, f"s${i % 89}%04d".getBytes("UTF-8"))
      dV.vector(r) = math.sin(i.toDouble) * 1000.0
      dtV.vector(r) = i % 365 - 30 // negative epoch-days in-envelope
      tsV.time(r) = 1600000000000L + i * 250; tsV.nanos(r) = 0
      batch.size += 1
      if (batch.size == batch.getMaxSize) { writer.addRowBatch(batch); batch.reset() }
      i += 1
    }
    if (batch.size > 0) writer.addRowBatch(batch)
    writer.close()
    val rows = StorageOps.orcStripeStats(spark, Seq(s"$dir/t"))
      .orderBy("stripe_id", "column_id").collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
    val got = rows.filter(_.getString(5) == "int")
      .map(r => (key(r), r.getLong(6), r.getLong(7))).toSeq
    val gotDate = rows.filter(_.getString(5) == "date")
      .map(r => (key(r), r.getLong(6), r.getLong(7))).toSeq
    val gotTs = rows.filter(_.getString(5) == "timestamp")
      .map(r => (key(r), r.getLong(6), r.getLong(7))).toSeq
    val gotStr = rows.filter(_.getString(5) == "string")
      .map(r => (key(r), r.getString(10), r.getString(11))).toSeq
    val gotDbl = rows.filter(_.getString(5) == "double")
      .map(r => (key(r), r.getDouble(8), r.getDouble(9))).toSeq
    // independent reader: orc-core's own stripe statistics
    val reader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(orcFile.toString),
      org.apache.orc.OrcFile.readerOptions(
        spark.sparkContext.hadoopConfiguration))
    import scala.jdk.CollectionConverters._
    val stripeStats = reader.getStripeStatistics.asScala.zipWithIndex.map {
      case (ss, sid) => (sid.toLong, ss.getColumnStatistics.zipWithIndex)
    }.toSeq
    def libKey(sid: Long, cid: Int,
        cs: org.apache.orc.ColumnStatistics) =
      (sid, cid.toLong, cs.getNumberOfValues, cs.hasNull)
    val lib = stripeStats.flatMap { case (sid, cols) =>
      cols.collect {
        case (cs: org.apache.orc.IntegerColumnStatistics, cid) =>
          (libKey(sid, cid, cs), cs.getMinimum, cs.getMaximum)
      }
    }
    val libDate = stripeStats.flatMap { case (sid, cols) =>
      cols.collect {
        case (cs: org.apache.orc.DateColumnStatistics, cid) =>
          (libKey(sid, cid, cs),
            cs.getMinimumDayOfEpoch, cs.getMaximumDayOfEpoch)
      }
    }
    val libStr = stripeStats.flatMap { case (sid, cols) =>
      cols.collect {
        case (cs: org.apache.orc.StringColumnStatistics, cid) =>
          (libKey(sid, cid, cs), cs.getMinimum, cs.getMaximum)
      }
    }
    val libDbl = stripeStats.flatMap { case (sid, cols) =>
      cols.collect {
        case (cs: org.apache.orc.DoubleColumnStatistics, cid) =>
          (libKey(sid, cid, cs), cs.getMinimum, cs.getMaximum)
      }
    }
    val libTs = stripeStats.flatMap { case (sid, cols) =>
      cols.collect {
        case (cs: org.apache.orc.TimestampColumnStatistics, cid) =>
          (libKey(sid, cid, cs),
            cs.getMinimumUTC.getTime, cs.getMaximumUTC.getTime)
      }
    }
    reader.close()
    assert(got.nonEmpty && got == lib)
    assert(gotTs.nonEmpty && gotTs == libTs)
    assert(gotDate.nonEmpty && gotDate == libDate)
    assert(gotStr.nonEmpty && gotStr == libStr)
    assert(gotDbl.nonEmpty && gotDbl == libDbl)
    // multiple stripes actually happened, and the nullable column's
    // has_null flag surfaced
    assert(got.map(_._1._1).distinct.size > 1)
    assert(got.exists(_._1._4))
    // fuzz: byte flips / truncations never throw (media contract)
    val whole = java.nio.file.Files.readAllBytes(orcFile.toPath)
    val rnd = new scala.util.Random(1616)
    for (trial <- 0 until 300) {
      val m = whole.clone()
      (0 to rnd.nextInt(4)).foreach { _ =>
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      val victim =
        if (rnd.nextInt(3) == 0) m.take(rnd.nextInt(m.length)) else m
      try StorageOps.orcStripeStatsOf(victim, victim.length.toLong)
      catch { case e: Throwable => fail(s"orc stats fuzz $trial threw: $e") }
    }
  }

  test("parquetPageIndex: multi-page zone maps; pages aggregate to chunk stats; nulls") {
    import graft.ops.StorageOps
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("pqpages").toString
    // small pages force MULTI-page chunks; a null stripe exercises
    // page null counts
    spark.range(0, 100000)
      .selectExpr("id", "CASE WHEN id % 9 = 0 THEN NULL ELSE id * 7 END AS v")
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.page.size", "2048")
      .option("parquet.page.row.count.limit", "1000")
      .parquet(s"$dir/t")
    val pages = StorageOps.parquetPageIndex(
      spark, Seq(s"$dir/t"), Seq("id", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7),
        if (r.isNullAt(8)) None else Some(r.getLong(8)),
        if (r.isNullAt(9)) None else Some(r.getLong(9))))
    // multiple pages per chunk actually happened
    val byChunk = pages.groupBy(t => (t._1, t._2, t._3))
    assert(byChunk.values.exists(_.size > 5), s"pages: ${pages.length}")
    // page agg == the chunk's own statistics (parquet-hadoop footer)
    val chunks = StorageOps.parquetColumnStats(
      spark, Seq(s"$dir/t"), Seq("id", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for ((key, ps) <- byChunk) {
      val (cn, cmin, cmax) = chunks(key)
      assert(ps.map(_._8).sum == cn, s"$key nulls")
      assert(ps.flatMap(_._9).min == cmin, s"$key min")
      assert(ps.flatMap(_._10).max == cmax, s"$key max")
      // first_row_index strictly increasing from 0, page_idx dense
      val sorted = ps.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (0L until sorted.length.toLong).toSeq)
      assert(sorted.head._5 == 0L)
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sorted.toSeq)
      assert(sorted.map(_._5).distinct.length == sorted.length)
      // every v-column page saw some nulls arithmetic: total nulls
      // replay the id % 9 rule at the chunk level
      if (key._3 == "v") assert(cn == (0L until 100000L).count(_ % 9 == 0))
    }
    // files without page indexes (the pyarrow-written corpus) yield
    // zero rows, not an error
    assert(StorageOps.parquetPageIndex(spark,
      Seq("/root/testdata/sf0.001/region.parquet"), Seq("r_regionkey"))
      .count() == 0L)
  }

  test("parquetBloomProbe: no false negatives; FP rate bounded; dict columns bloom-less") {
    import graft.ops.StorageOps
    val dir = java.nio.file.Files.createTempDirectory("pqbloom").toString
    // high-NDV long column, dictionary off so the bloom is written
    spark.range(0, 50000).selectExpr("id * 13 AS k", "id AS v")
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .option("parquet.enable.dictionary", "false")
      .parquet(s"$dir/t")
    // every PRESENT key must hit (sampled: the planner contract)
    val present = (0L until 50000L by 97L).map(_ * 13L)
    val hit = StorageOps.parquetBloomProbe(
      spark, Seq(s"$dir/t"), "k", present).collect()
    assert(hit.forall(r => r.getBoolean(3) &&
      r.getLong(5) == r.getLong(4)), hit.mkString(","))
    // ABSENT keys: false positives allowed but bounded (default fpp
    // is 1% — allow generous 10% slack for a sampled probe set)
    val absent = (0L until 50000L by 97L).map(_ * 13L + 7L)
    val miss = StorageOps.parquetBloomProbe(
      spark, Seq(s"$dir/t"), "k", absent).collect()
    assert(miss.forall(r => r.getLong(5) <= r.getLong(4) / 10),
      miss.mkString(","))
    // a column without a bloom (v — not enabled) reports has_bloom
    // false and probes nothing
    val none = StorageOps.parquetBloomProbe(
      spark, Seq(s"$dir/t"), "v", present).collect()
    assert(none.forall(r => !r.getBoolean(3) && r.getLong(4) == 0L))
    // bounded probe set is enforced loudly
    intercept[IllegalArgumentException] {
      StorageOps.parquetBloomProbe(spark, Seq(s"$dir/t"), "k",
        (0L until 100001L).toSeq)
    }
  }

  test("delta deletion vectors: roaring decode matches library; z85 vector; CRC tamper") {
    import graft.ops.StorageOps
    import spark.implicits._
    // Z85 spec test vector (ZeroMQ RFC 32): 0x86 4F D2 6F B5 59 F7 5B
    val helloBytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(StorageOps.z85Encode(helloBytes) == "HelloWorld")
    assert(StorageOps.z85Decode("HelloWorld").get.toSeq == helloBytes.toSeq)
    assert(StorageOps.z85Decode("bad!").isEmpty)      // not 5-aligned
    assert(StorageOps.z85Decode("#####").isEmpty)     // > 2^32 - 1
    // every synthesis arm decodes to exactly the library's contents
    val docs = Seq(0L, 1L, 4L, 5L, 7L, 15L, 16L, 20L).toDF("doc_id")
    val dv = StorageOps.synthesizeDeltaDv(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2),
        r.getString(3), r.getInt(4), r.getInt(5))).toSeq
    for ((id, st, fb, inl, off, sz) <- dv) {
      val got = (st match {
        case "u" => StorageOps.deltaDvFilePositions(fb, off, sz)
        case "i" => StorageOps.deltaDvInlinePositions(inl)
      }).getOrElse(fail(s"id=$id ($st) rejected"))
      val expect = {
        val ps = scala.collection.mutable.ArrayBuffer.empty[Long]
        (0 to (id % 17).toInt).foreach(k => ps += k * 3L + id % 3)
        if (id % 5 == 0) (5000 to 5600).foreach(p => ps += p.toLong)
        if (id % 4 == 0) { ps += (1L << 32) + 7; ps += (1L << 32) + 11 }
        ps.distinct.sorted.toVector
      }
      assert(got.sorted == expect, s"id=$id ($st)")
    }
    // dense bitset container: > 4096 values in one 64k chunk
    val rb = org.roaringbitmap.RoaringBitmap.bitmapOf(
      (0 until 10000).map(_ * 2): _*)
    val bos = new java.io.ByteArrayOutputStream()
    def wLE32(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    wLE32(1681511377L); wLE32(1L); wLE32(0L); wLE32(0L)
    val dos = new java.io.DataOutputStream(bos)
    rb.serialize(dos); dos.flush()
    val decoded = StorageOps.deltaDvBitmapOf(bos.toByteArray).get
    assert(decoded == (0 until 10000).map(_ * 2L).toVector)
    // CRC tamper: a flipped bitmap byte must fail the file form
    val (fid, _, fileBytes, _, foff, fsz) = dv.find(_._2 == "u").get
    val bad = fileBytes.clone()
    bad(foff + 4 + fsz / 2) = (bad(foff + 4 + fsz / 2) ^ 1).toByte
    assert(StorageOps.deltaDvFilePositions(bad, foff, fsz).isEmpty)
    // wrong declared size / bad version byte / truncation all reject
    assert(StorageOps.deltaDvFilePositions(fileBytes, foff, fsz - 1).isEmpty)
    val badVer = fileBytes.clone(); badVer(0) = 2
    assert(StorageOps.deltaDvFilePositions(badVer, foff, fsz).isEmpty)
    assert(StorageOps.deltaDvFilePositions(
      java.util.Arrays.copyOf(fileBytes, fileBytes.length - 2),
      foff, fsz).isEmpty)
    // seeded fuzz: bitmap decode total on mutated bytes
    val rnd = new scala.util.Random(1717)
    val seed = java.util.Arrays.copyOfRange(
      fileBytes, foff + 4, foff + 4 + fsz)
    for (trial <- 0 until 300) {
      val m = seed.clone()
      (0 to rnd.nextInt(4)).foreach { _ =>
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      val victim =
        if (rnd.nextInt(3) == 0) m.take(rnd.nextInt(m.length)) else m
      try StorageOps.deltaDvBitmapOf(victim)
      catch { case e: Throwable => fail(s"dv fuzz $trial threw: $e") }
    }
  }

  test("orcRowIndexStats: per-row-group bounds match the written data per stripe") {
    import graft.ops.StorageOps
    val dir = java.nio.file.Files.createTempDirectory("orcridx").toString
    val orcFile = new java.io.File(s"$dir/t/fixture.orc")
    orcFile.getParentFile.mkdirs()
    val schema = org.apache.orc.TypeDescription.fromString(
      "struct<id:bigint,v:bigint,s:string,d:double>")
    val writer = org.apache.orc.OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(orcFile.toString),
      org.apache.orc.OrcFile.writerOptions(
          spark.sparkContext.hadoopConfiguration)
        .setSchema(schema)
        .stripeSize(65536L) // tiny: force multiple stripes
        .compress(org.apache.orc.CompressionKind.ZLIB))
    val batch = schema.createRowBatch()
    val idV = batch.cols(0).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
    val vV = batch.cols(1).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
    val sV = batch.cols(2).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.BytesColumnVector]
    val dV = batch.cols(3).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.DoubleColumnVector]
    vV.noNulls = false
    val total = 60000L
    var i = 0L
    while (i < total) {
      val r = batch.size
      idV.vector(r) = i
      // batch.reset() flips noNulls back to true — re-clear per null
      // or only the first 1024-row batch records its nulls
      if (i % 11 == 0) {
        vV.noNulls = false; vV.isNull(r) = true; vV.vector(r) = 0L
      } else { vV.isNull(r) = false; vV.vector(r) = i * 3 }
      sV.setVal(r, f"s$i%07d".getBytes("UTF-8")) // monotonic in i
      dV.vector(r) = i * 0.5
      batch.size += 1
      if (batch.size == batch.getMaxSize) { writer.addRowBatch(batch); batch.reset() }
      i += 1
    }
    if (batch.size > 0) writer.addRowBatch(batch)
    writer.close()
    // stripe geometry from the independent reader
    val reader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(orcFile.toString),
      org.apache.orc.OrcFile.readerOptions(
        spark.sparkContext.hadoopConfiguration))
    import scala.jdk.CollectionConverters._
    val stripeRows = reader.getStripes.asScala.map(_.getNumberOfRows).toVector
    reader.close()
    assert(stripeRows.length > 1, "fixture must span multiple stripes")
    val rows = StorageOps.orcRowIndexStats(spark, Seq(s"$dir/t"))
      .orderBy("stripe_id", "column_id", "row_group_id").collect()
    assert(rows.nonEmpty)
    // every (stripe, column, row-group) bound replays from arithmetic
    // over the written data — including per-GROUP null accounting
    val stripeStart = stripeRows.scanLeft(0L)(_ + _)
    var checked = 0
    rows.foreach { r =>
      val (sid, cid, rg) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val lo = stripeStart(sid.toInt) + rg * 10000
      val hi = math.min(lo + 10000, stripeStart(sid.toInt) + stripeRows(sid.toInt)) - 1
      val span = hi - lo + 1
      val kind = r.getString(6)
      cid match {
        case 1L => // id: dense long
          assert(kind == "int" && r.getLong(4) == span && !r.getBoolean(5))
          assert(r.getLong(7) == lo && r.getLong(8) == hi, s"s$sid c1 g$rg")
          checked += 1
        case 2L => // v: null on multiples of 11 (lo=0 includes row 0;
          // (-1)/11 truncates to 0 in Scala, so special-case it)
          val nulls = hi / 11 - (if (lo == 0) -1L else (lo - 1) / 11)
          assert(kind == "int" && r.getLong(4) == span - nulls &&
            r.getBoolean(5), s"s$sid c2 g$rg")
          val firstLive = if (lo % 11 == 0) lo + 1 else lo
          val lastLive = if (hi % 11 == 0) hi - 1 else hi
          assert(r.getLong(7) == firstLive * 3 && r.getLong(8) == lastLive * 3)
          checked += 1
        case 3L => // s: monotonic zero-padded string
          assert(kind == "string" && r.getString(11) == f"s$lo%07d" &&
            r.getString(12) == f"s$hi%07d", s"s$sid c3 g$rg")
          checked += 1
        case 4L => // d: i * 0.5
          assert(kind == "double" && r.getDouble(9) == lo * 0.5 &&
            r.getDouble(10) == hi * 0.5, s"s$sid c4 g$rg")
          checked += 1
        case _ => // root struct (0): no prunable bounds expected here
      }
    }
    val expectGroups = stripeRows.map(n => (n + 9999) / 10000).sum
    assert(checked == 4 * expectGroups,
      s"checked $checked, expected ${4 * expectGroups}")
  }

  test("orcFootersDistributed == orcFooters over a partitioned tree; loud bound") {
    import graft.ops.StorageOps
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orcdist").toString
    // partitioned tree: pt=0/pt=1 subdirs, several files each
    (0L to 999L).map(i => (i, s"v$i", (i % 2).toInt))
      .toDF("id", "s", "pt")
      .repartition(3)
      .write.partitionBy("pt").mode("overwrite")
      .option("compression", "zlib").orc(s"$dir/t")
    // pt=0 and pt=1 reuse the same part-file basenames (one job
    // UUID), so sort by the WHOLE row for a total order
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    val driver = canon(StorageOps.orcFooters(spark, Seq(
      s"$dir/t/pt=0", s"$dir/t/pt=1")))
    val dist = canon(StorageOps.orcFootersDistributed(spark, Seq(s"$dir/t")))
    assert(driver.nonEmpty && driver == dist)
    // the loud per-shard bound fires instead of walking unbounded
    val e = intercept[org.apache.spark.SparkException] {
      StorageOps.orcFootersDistributed(spark, Seq(s"$dir/t"),
        maxFilesPerShard = 1).collect()
    }
    assert(e.getMessage != null)
  }

  test("orcBloomProbe: no false negatives per row group; FP rate bounded") {
    import graft.ops.StorageOps
    val dir = java.nio.file.Files.createTempDirectory("orcbloom").toString
    val orcFile = new java.io.File(s"$dir/t/fixture.orc")
    orcFile.getParentFile.mkdirs()
    val schema = org.apache.orc.TypeDescription.fromString(
      "struct<id:bigint,s:string>")
    val writer = org.apache.orc.OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(orcFile.toString),
      org.apache.orc.OrcFile.writerOptions(
          spark.sparkContext.hadoopConfiguration)
        .setSchema(schema)
        .bloomFilterColumns("s")
        .compress(org.apache.orc.CompressionKind.ZLIB))
    val batch = schema.createRowBatch()
    val idV = batch.cols(0).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
    val sV = batch.cols(1).asInstanceOf[
      org.apache.hadoop.hive.ql.exec.vector.BytesColumnVector]
    var i = 0L
    while (i < 30000L) {
      val r = batch.size
      idV.vector(r) = i
      sV.setVal(r, f"s$i%07d".getBytes("UTF-8"))
      batch.size += 1
      if (batch.size == batch.getMaxSize) { writer.addRowBatch(batch); batch.reset() }
      i += 1
    }
    if (batch.size > 0) writer.addRowBatch(batch)
    writer.close()
    // 10 strings present ONLY in row group 0, plus 10 absent strings
    val present = (0 until 10).map(j => f"s$j%07d")
    val absent = (0 until 10).map(j => s"zz-absent-$j")
    val rows = StorageOps.orcBloomProbe(
        spark, Seq(s"$dir/t"), 2L, present ++ absent)
      .orderBy("stripe_id", "row_group_id").collect()
    assert(rows.nonEmpty)
    // geometry sane, one filter per row group (single stripe: 3 groups)
    assert(rows.forall(r => r.getLong(4) > 0 && r.getLong(5) % 64 == 0))
    val byGroup = rows.map(r =>
      ((r.getLong(1), r.getLong(3)), r.getLong(6))).toMap
    // NO FALSE NEGATIVES: group 0 must hit all 10 present probes
    assert(byGroup((0L, 0L)) >= 10, s"group 0 hits ${byGroup((0L, 0L))}")
    // FP bound: groups 1+ contain NONE of the probes — any hit is a
    // false positive; at fpp=0.05, 20 probes should FP well under 5
    byGroup.filterKeys(_ != (0L, 0L)).foreach { case (g, hits) =>
      assert(hits <= 5, s"group $g: $hits false positives of 20 probes")
    }
    // and group 0's own overshoot is only FPs on the 10 absent probes
    assert(byGroup((0L, 0L)) <= 15)
  }

  test("puffin: framing walk, DV blob decode, tamper/compressed rejects, fuzz") {
    import graft.ops.StorageOps
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (0L to 12L).map(d => (d, s"doc $d")).toDF("doc_id", "text")
    val media = StorageOps.synthesizePuffin(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // footer walk: every synthesized file is valid; JSON blob count
    // replays id arithmetic
    for ((id, b) <- media) {
      val (fs, sz, fl, js) = StorageOps.puffinFooterOf(b)
        .getOrElse(fail(s"id=$id rejected"))
      assert(fs == b.length.toLong)
      if (id % 5 == 2) // LZ4-frame-compressed footer: flag set, the
        assert(fl == 1L) // JSON below must round-trip regardless
      else
        assert(fl == 0L && sz == js.getBytes("UTF-8").length.toLong)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val blobs = om.readTree(js).path("blobs")
      assert(blobs.size() == 1 + (id % 3).toInt, s"id=$id")
      // DV blob decode on even ids: positions replay id arithmetic
      if (id % 2 == 0) {
        val b0 = blobs.get(0)
        assert(b0.path("type").asText() == "deletion-vector-v1")
        val off = b0.path("offset").asLong()
        val len = b0.path("length").asLong()
        val card = b0.path("properties").path("cardinality").asText().toLong
        val got = StorageOps.puffinDvBlobOf(b, off, len, card)
          .getOrElse(fail(s"id=$id dv rejected"))
        val expect = ((0 to (id % 11).toInt).map(j => j * 5L + id % 5) ++
          (if (id % 4 == 0) Seq((1L << 32) + 3) else Nil)).sorted
        assert(got.sorted == expect, s"id=$id")
        // CRC tamper: flip one bitmap byte -> reject, never resurrect
        val bad = b.clone()
        bad(off.toInt + 9) = (bad(off.toInt + 9) ^ 1).toByte
        assert(StorageOps.puffinDvBlobOf(bad, off, len, card).isEmpty)
        // declared-cardinality mismatch rejects
        assert(StorageOps.puffinDvBlobOf(b, off, len, card + 1).isEmpty)
      }
    }
    // a compressed FLAG over an uncompressed payload is not a valid
    // LZ4 frame: rejects, never a mis-read
    val whole = media(0L)
    val comp = whole.clone()
    comp(whole.length - 8) = 1 // flags bit 0
    assert(StorageOps.puffinFooterOf(comp).isEmpty)
    // head/tail magic tamper rejects
    val noHead = whole.clone(); noHead(0) = 'X'
    assert(StorageOps.puffinFooterOf(noHead).isEmpty)
    val noTail = whole.clone(); noTail(whole.length - 1) = 'X'
    assert(StorageOps.puffinFooterOf(noTail).isEmpty)
    // fuzz: byte flips / truncations never throw
    val rnd = new scala.util.Random(1818)
    for (trial <- 0 until 500) {
      val m = whole.clone()
      (0 to rnd.nextInt(4)).foreach { _ =>
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      val victim =
        if (rnd.nextInt(3) == 0) m.take(rnd.nextInt(m.length)) else m
      try {
        StorageOps.puffinFooterOf(victim)
        StorageOps.puffinDvBlobOf(victim, 4, victim.length - 24L, 3L)
      } catch {
        case e: Throwable => fail(s"puffin fuzz $trial threw: $e")
      }
    }
    // adversarial footer descriptors: offset/length pairs whose sum
    // overflows Long must reject via the guard, not index out of
    // range (the footer JSON is untrusted input)
    assert(StorageOps.puffinDvBlobOf(
      whole, Long.MaxValue - 5L, 12L, 3L).isEmpty)
    assert(StorageOps.puffinDvBlobOf(
      whole, 4L, Long.MaxValue, 3L).isEmpty)
    assert(StorageOps.puffinDvBlobOf(
      whole, Long.MaxValue, Long.MaxValue, 3L).isEmpty)
    assert(StorageOps.puffinDvBlobOf(
      whole, whole.length.toLong, 12L, 3L).isEmpty)
  }

  test("parquetPageIndexSharded == parquetPageIndex on a multi-row-group file") {
    // one file, several row groups: the skew shape where the
    // per-file walk is a single task — the sharded flavor must fan
    // out per row group and return IDENTICAL rows
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqidx-shard").toString
    val docs = spark.read.parquet(s"$sf001/lineitem.parquet")
    docs.coalesce(1).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(s"$dir/li")
    val cols = Seq("l_orderkey", "l_partkey")
    val perFile = StorageOps.parquetPageIndex(spark, Seq(s"$dir/li"), cols)
    val sharded =
      StorageOps.parquetPageIndexSharded(spark, Seq(s"$dir/li"), cols)
    val key = Seq("file_name", "row_group_id", "path_in_schema", "page_idx")
    val a = perFile.orderBy(key.map(col): _*).collect().toSeq
    val b = sharded.orderBy(key.map(col): _*).collect().toSeq
    assert(a == b)
    // the fixture actually has >1 row group, else the test is vacuous
    assert(perFile.select("row_group_id").distinct().count() > 1)
  }

  test("orcRleV1Unsigned: runs/literals vs orc-core's legacy writer; fuzz TOTAL") {
    def enc(values: Seq[Long]): Array[Byte] = {
      val received = new java.io.ByteArrayOutputStream
      val recv = new org.apache.orc.PhysicalWriter.OutputReceiver {
        def output(buffer: java.nio.ByteBuffer): Unit = {
          val arr = new Array[Byte](buffer.remaining())
          buffer.get(arr)
          received.write(arr)
        }
        def suppress(): Unit = ()
      }
      val os = new org.apache.orc.impl.OutStream("t",
        new org.apache.orc.impl.writer.StreamOptions(128 * 1024), recv)
      val w = new org.apache.orc.impl.RunLengthIntegerWriter(os, false)
      values.foreach(w.write)
      w.flush()
      received.toByteArray
    }
    val shapes: Seq[Seq[Long]] = Seq(
      Seq.fill(9)(42L), // repeat run, delta 0
      (0L until 50L).map(_ * 3L), // positive-delta run
      (50L to 0L by -1L).map(_ + 1000L), // negative-delta run
      Seq(9L, 1L, 7L, 3L, 8L, 2L, 200L, 65536L), // literals incl. multi-byte
      Seq.fill(200)(7L) ++ Seq(1L, 2L, 9L) ++ Seq.fill(130)(3L))
    for (vals <- shapes) {
      val bytes = enc(vals)
      assert(StorageOps.orcRleV1Unsigned(bytes, vals.length)
        .contains(vals.toVector), vals.take(5).toString)
      assert(StorageOps.orcRleV1Unsigned(bytes, vals.length + 1).isEmpty)
    }
    val rnd = new scala.util.Random(171819)
    for (trial <- 0 until 200) { // randomized writer cross-check
      val n = 1 + rnd.nextInt(400)
      val vals = (0 until n).map(_ =>
        if (rnd.nextInt(3) == 0) rnd.nextInt(5).toLong
        else rnd.nextInt(1 << 20).toLong)
      assert(StorageOps.orcRleV1Unsigned(enc(vals), n)
        .contains(vals.toVector), s"trial $trial")
    }
    for (trial <- 0 until 2000) { // TOTAL on arbitrary bytes
      val b = new Array[Byte](rnd.nextInt(120))
      rnd.nextBytes(b)
      try StorageOps.orcRleV1Unsigned(b, rnd.nextInt(64))
      catch { case e: Throwable => fail(s"fuzz $trial threw: $e") }
    }
  }

  test("orcRleV2Unsigned is TOTAL on arbitrary bytes (2000-trial fuzz)") {
    val rnd = new scala.util.Random(20260816)
    for (trial <- 0 until 2000) {
      val n = rnd.nextInt(200)
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      try StorageOps.orcRleV2Unsigned(b, rnd.nextInt(64))
      catch { case e: Throwable => fail(s"trial $trial threw: $e") }
    }
  }

  test("hudiTableProperties: JDK-parser fidelity (escapes, continuations); missing root rejects") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-hudi-props")
    java.nio.file.Files.createDirectories(root.resolve(".hoodie"))
    // hand-written file exercising the format's corners: comment
    // lines, backslash continuation, \u escape, ':' separator
    val text =
      "# comment line\n" +
      "hoodie.table.name=my\\\n    table\n" +
      "hoodie.table.type:MERGE_ON_READ\n" +
      "weird.key=sp\\u00e4ter value\n"
    java.nio.file.Files.write(
      root.resolve(".hoodie/hoodie.properties"),
      text.getBytes("ISO-8859-1"))
    val rows = StorageOps.hudiTableProperties(spark, root.toString)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("hoodie.table.name") == "mytable") // continuation joins
    assert(rows("hoodie.table.type") == "MERGE_ON_READ") // ':' form
    assert(rows("weird.key") == "später value") // \u escape
    // a dir without .hoodie/hoodie.properties is not a table root
    val bare = java.nio.file.Files
      .createTempDirectory("graft-hudi-empty").toString
    intercept[IllegalArgumentException] {
      StorageOps.hudiTableProperties(spark, bare)
    }
  }

  test("orcRleV2Unsigned: all four sub-encodings vs orc-core's own writer; strict rejects") {
    // independent-writer discipline: orc-core ENCODES, the from-spec
    // walk decodes — shapes chosen to force each sub-encoding
    def enc(values: Seq[Long], aligned: Boolean): Array[Byte] = {
      val received = new java.io.ByteArrayOutputStream
      val recv = new org.apache.orc.PhysicalWriter.OutputReceiver {
        def output(buffer: java.nio.ByteBuffer): Unit = {
          val arr = new Array[Byte](buffer.remaining())
          buffer.get(arr)
          received.write(arr)
        }
        def suppress(): Unit = ()
      }
      val os = new org.apache.orc.impl.OutStream("t",
        new org.apache.orc.impl.writer.StreamOptions(128 * 1024), recv)
      val w = new org.apache.orc.impl.RunLengthIntegerWriterV2(
        os, false, aligned)
      values.foreach(w.write)
      w.flush()
      received.toByteArray
    }
    val shapes: Seq[(String, Seq[Long])] = Seq(
      ("short-repeat", Seq.fill(7)(10000L)),
      ("direct", Seq(23713L, 43806L, 28713L, 34642L)),
      ("delta-monotonic", Seq(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L, 29L)),
      ("delta-fixed", (0L until 100L).map(_ * 9L)),
      ("delta-descending", Seq(100L, 90L, 82L, 75L, 60L, 55L)),
      ("patched-base", Seq(2030L, 2000L, 2020L, 1000000L) ++
        (0 until 16).map(i => 2040L + 10L * i)),
      ("long-direct", (0 until 600).map(i =>
        ((i * 2654435761L) >>> 40) & 0xffffL)),
      ("two-runs", Seq.fill(12)(5L) ++ Seq(9L, 1L, 7L, 3L, 8L, 2L)),
      ("zeros", Seq.fill(300)(0L)),
      ("big-values", Seq(1L << 60, (1L << 60) + 1, (1L << 60) + 2,
        (1L << 60) + 3)))
    for ((name, vals) <- shapes; aligned <- Seq(true, false)) {
      val bytes = enc(vals, aligned)
      val got = StorageOps.orcRleV2Unsigned(bytes, vals.length)
        .getOrElse(fail(s"$name aligned=$aligned rejected"))
      assert(got == vals.toVector, s"$name aligned=$aligned")
      // strictness: truncated stream / wrong expected count reject
      assert(StorageOps.orcRleV2Unsigned(
        bytes.take(bytes.length - 1), vals.length).isEmpty ||
        bytes.length == 0, s"$name truncation")
      assert(StorageOps.orcRleV2Unsigned(bytes, vals.length + 1).isEmpty)
    }
    // randomized sweep across mixed shapes, both packings
    val rnd = new scala.util.Random(2026)
    for (trial <- 0 until 200) {
      val n = 1 + rnd.nextInt(900)
      val vals = (0 until n).map { _ =>
        rnd.nextInt(4) match {
          case 0 => rnd.nextInt(3).toLong
          case 1 => rnd.nextInt(1 << 16).toLong
          case 2 => if (rnd.nextInt(10) == 0) rnd.nextLong() >>> 1
                    else rnd.nextInt(512).toLong
          case _ => 1000000L + rnd.nextInt(100)
        }
      }
      val bytes = enc(vals, trial % 2 == 0)
      val got = StorageOps.orcRleV2Unsigned(bytes, n)
      assert(got.contains(vals.toVector), s"trial $trial n=$n")
    }
  }

  test("orcDictionaryProbe: exact membership vs orc-core write; direct fail-safe") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-orcdict").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    docs.coalesce(1).write.mode("overwrite").option("compression", "zlib")
      .orc(s"$dir/docs")
    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val probes = langs ++ Seq("zz-absent", "q9")
    // column ids in the flattened type tree: 0 root, 1 doc_id,
    // 2 text, 3 lang — lang (5 distinct / 1k rows) dictionary-encodes
    val rows = StorageOps.orcDictionaryProbe(
      spark, Seq(s"$dir/docs"), 3L, probes).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), "lang must be DICTIONARY_V2")
      assert(r.getLong(4) <= langs.length.toLong && r.getLong(4) >= 1L)
      assert(r.getLong(6) == r.getLong(4),
        "per-stripe probes must hit exactly the stripe's distinct set")
    }
    // high-cardinality text goes DIRECT_V2 → fail-safe row
    val nd = StorageOps.orcDictionaryProbe(
      spark, Seq(s"$dir/docs"), 2L, probes).collect()
    assert(nd.nonEmpty && nd.forall(r => !r.getBoolean(3) && r.getLong(6) == 0L))
  }

  test("parquetDictionaryProbe: exact membership per row group; non-dict chunks fail-safe") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqdict").toString
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.coalesce(1).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(s"$dir/li")
    val flags = li.select("l_returnflag").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val probes = flags ++ Seq("ZZ-ABSENT", "Q9")
    val rows = StorageOps.parquetDictionaryProbe(
      spark, Seq(s"$dir/li"), "l_returnflag", probes).collect()
    assert(rows.length > 1) // multi-row-group fixture, else vacuous
    rows.foreach { r =>
      assert(r.getBoolean(3), "chunk must be fully dictionary-encoded")
      // EXACTNESS both ways: every present flag hits (tiny row groups
      // still contain all flags at this fixture), absent probes miss
      assert(r.getLong(6) == flags.length.toLong, r.toString)
      assert(r.getLong(5) == probes.length.toLong)
      // the dictionary is the chunk's exact distinct set
      assert(r.getLong(4) >= 1L && r.getLong(4) <= flags.length.toLong)
    }
    // dictionary disabled at write → fail-safe: dict_encoded false,
    // zero hits claimed (the planner falls back to stats/blooms)
    li.coalesce(1).write.mode("overwrite")
      .option("parquet.enable.dictionary", "false")
      .parquet(s"$dir/li_nodict")
    val nd = StorageOps.parquetDictionaryProbe(
      spark, Seq(s"$dir/li_nodict"), "l_returnflag", probes).collect()
    assert(nd.nonEmpty && nd.forall(r => !r.getBoolean(3) && r.getLong(6) == 0L))
  }

  test("delta v2 checkpoint JSON top file: sidecars + tombstones replay like parquet") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-delta-v2json")
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    write(f"${0}%020d.json", Seq(
      """{"add":{"path":"a.parquet","size":1,"dataChange":true}}""",
      """{"add":{"path":"b.parquet","size":2,"dataChange":true}}"""))
    write(f"${1}%020d.json", Seq("""{"remove":{"path":"a.parquet"}}"""))
    write(f"${2}%020d.json", Seq(
      """{"add":{"path":"c.parquet","size":3,"dataChange":true}}"""))
    write(f"${3}%020d.json", Seq(
      """{"add":{"path":"d.parquet","size":4,"dataChange":true}}""",
      """{"remove":{"path":"b.parquet"}}"""))
    write("_last_checkpoint", Seq("""{"version":2,"size":4}"""))
    // sidecar parquet carrying the adds live at v2
    java.nio.file.Files.createDirectories(dir.resolve("_sidecars"))
    val s = spark
    import s.implicits._
    val adds = Seq(("b.parquet", 2L), ("c.parquet", 3L)).toDF("p", "sz")
      .select(struct(col("p").as("path"), col("sz").as("size"),
        lit(true).as("dataChange")).as("add"))
    val tmp = dir.resolve("scbuild")
    adds.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part,
      dir.resolve("_sidecars").resolve("sc1.parquet"))
    // the JSON v2 TOP file: tombstone + sidecar pointer — the
    // protocol's other v2CheckpointFormat; its uuid tail must NOT
    // parse as a commit version in the trailing scan
    write(f"${2}%020d.checkpoint." +
      "0f16aa71-0000-4000-8000-000000000099.json", Seq(
      """{"remove":{"path":"a.parquet"}}""",
      """{"sidecar":{"path":"sc1.parquet"}}"""))
    val cp = StorageOps.deltaLogStateFromCheckpoint(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(cp == Set(("c.parquet", 3L, 2L), ("d.parquet", 4L, 3L)))
    // and the checkpoint-free replay agrees (the json top file is
    // invisible to the commit scan — the pure-digits filter)
    val full = StorageOps.deltaLogState(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == cp)
  }

  test("delta protocol gate: unknown reader features reject loudly; supported pass") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-delta-gate").toString
    def write(v: Int, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"$v%020d.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    write(0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","rowTracking"]}}""",
      """{"add":{"path":"a.parquet","size":10,"dataChange":true}}"""))
    // rowTracking is beyond the implemented set: the replay must
    // REFUSE, not silently report state it can't interpret
    val e = intercept[IllegalArgumentException] {
      StorageOps.deltaLogState(spark, dir).collect()
    }
    assert(e.getMessage.contains("rowTracking"))
    // a later commit narrowing to supported features wins (newest
    // protocol action rules)
    write(1, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","columnMapping"]}}"""))
    assert(StorageOps.deltaLogState(spark, dir).count() == 1)
    // minReaderVersion beyond 3 rejects regardless of features
    write(2, Seq("""{"protocol":{"minReaderVersion":4}}"""))
    val e2 = intercept[IllegalArgumentException] {
      StorageOps.deltaLogState(spark, dir).collect()
    }
    assert(e2.getMessage.contains("minReaderVersion 4"))
  }

  test("deltaFileStats: column-mapping translation, live-set only, no-mapping passthrough") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-delta-cmap").toString
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val schemaJson =
      """{"type":"struct","fields":[""" +
        """{"name":"id","type":"long","nullable":true,"metadata":""" +
        """{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-x1"}}]}"""
    def write(v: Int, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"$v%020d.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    write(0, Seq(
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${esc(schemaJson)}","partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"name"},"createdTime":1}}"""))
    val stats =
      """{"numRecords":7,"minValues":{"col-x1":3},""" +
        """"maxValues":{"col-x1":9},"nullCount":{"col-x1":1}}"""
    write(1, Seq(
      s"""{"add":{"path":"a.parquet","size":10,"dataChange":true,""" +
        s""""stats":"${esc(stats)}"}}"""))
    write(2, Seq(
      s"""{"add":{"path":"b.parquet","size":10,"dataChange":true,""" +
        s""""stats":"${esc(stats)}"}}""",
      """{"remove":{"path":"a.parquet"}}"""))
    val rows = StorageOps.deltaFileStats(spark, dir).collect()
    // live set only (a.parquet removed), physical col-x1 → logical id
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "b.parquet" && r.getString(1) == "id" &&
      r.getString(2) == "3" && r.getString(3) == "9" &&
      r.getLong(4) == 1L && r.getLong(5) == 7L)
    // mode absent → keys pass through unchanged
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-delta-nomap").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir2, f"${0}%020d.json"),
      (s"""{"add":{"path":"c.parquet","size":10,"dataChange":true,""" +
        s""""stats":"${esc(stats)}"}}""").getBytes("UTF-8"))
    val rows2 = StorageOps.deltaFileStats(spark, dir2).collect()
    assert(rows2.length == 1 && rows2.head.getString(1) == "col-x1")
  }

  test("applyEqualityDeletes: sequence cutoff, null-safe match, broadcast plan") {
    val s = spark
    import s.implicits._
    // data rows across sequences; one null-keyed row on each side of
    // the cutoff
    val data = Seq(
      (1L, "de", 1L), (2L, "de", 3L), (3L, "de", 5L),
      (4L, "fr", 2L), (5L, "en", 1L),
      (6L, null.asInstanceOf[String], 1L),
      (7L, null.asInstanceOf[String], 9L)
    ).toDF("id", "k", "data_seq")
    val dels = Seq(
      ("de", 4L), // hits seq 1 and 3, NOT 5
      (null.asInstanceOf[String], 5L) // null-safe: hits id 6, not 7
    ).toDF("k", "delete_seq")
    val out = StorageOps.applyEqualityDeletes(data, dels, Seq("k"))
    assert(out.select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 5L, 7L))
    // the spec's reinsert case: the LATER-sequence 'de' row (seq 5)
    // survives the EARLIER equality delete (seq 4)
    assert(out.filter(col("id") === 3L).count() == 1)
    // equal sequence also survives (strictly-lower rule)
    val eq = Seq((10L, "de", 4L)).toDF("id", "k", "data_seq")
    assert(StorageOps.applyEqualityDeletes(eq, dels, Seq("k")).count() == 1)
    // plan shape: the delete side is broadcast — never a shuffle of
    // the data side to drop rows
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast anti-join, got:\n$plan")
    // multi-column equality tuples
    val d2 = Seq((1L, "a", 1L, 1L), (2L, "a", 2L, 1L), (3L, "b", 1L, 1L))
      .toDF("id", "k1", "k2", "data_seq")
    val del2 = Seq(("a", 1L, 9L)).toDF("k1", "k2", "delete_seq")
    assert(StorageOps.applyEqualityDeletes(d2, del2, Seq("k1", "k2"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("iceberg manifest v2: equality_ids + sequence_number decode; Avro cross-check") {
    val s = spark
    import s.implicits._
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "a"), (8L, "b"), (7L, "c"), (12L, "d"))
      .toDF("doc_id", "text")
    val media = MultimodalOps.synthesizeIcebergManifestV2(docs, "doc_id")
      .collect()
    for (m <- media) {
      val entries = MultimodalOps.icebergManifestEntriesOf(m)
        .getOrElse(fail(s"v2 manifest ${m.id} rejected"))
      entries.zipWithIndex.foreach { case (e, k) =>
        // every entry carries its data sequence number
        assert(e.sequenceNumber == 7L + m.id % 9, s"id ${m.id} k $k")
        if ((m.id + k) % 3 == 2) // equality-delete entries only
          assert(e.equalityIds == s"${m.id % 3 + 1},5", s"id ${m.id} k $k")
        else
          assert(e.equalityIds == "", s"id ${m.id} k $k")
        // column-stats kv arrays: the pruning surface, by synthesis
        // arithmetic (c = 1..3)
        assert(e.columnSizes ==
          (1 to 3).map(c => graft.ops.MultimodalOps
            .IcebergKvLong(c.toLong, 1000L * c + m.id)), s"id ${m.id}")
        assert(e.valueCounts ==
          (1 to 3).map(c => graft.ops.MultimodalOps
            .IcebergKvLong(c.toLong, 100L + c)), s"id ${m.id}")
        assert(e.lowerBounds ==
          (1 to 3).map(c => graft.ops.MultimodalOps.IcebergKvBytes(
            c.toLong, f"$c%02x${m.id & 0x7f}%02x")), s"id ${m.id}")
      }
      // cross-check against the Avro library's own read
      val reader = new org.apache.avro.file.DataFileReader(
        new org.apache.avro.file.SeekableByteArrayInput(m.content),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      val lib = Iterator.continually(
        if (reader.hasNext) Some(reader.next()) else None)
        .takeWhile(_.isDefined).map { o =>
          val df = o.get.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          Option(df.get("equality_ids")) match {
            case Some(l: java.util.List[_]) =>
              import scala.jdk.CollectionConverters._
              l.asScala.map(_.toString).mkString(",")
            case _ => ""
          }
        }.toVector
      reader.close()
      assert(entries.map(_.equalityIds).toVector == lib, s"id ${m.id}")
    }
    // codec coverage is by id arithmetic: 12 → null, 7 → deflate,
    // 5/8 → snappy — the snappy pair above just cross-checked the
    // library; now the tamper seal: a flipped bit in a snappy-coded
    // container rejects (trailing CRC32 of the uncompressed bytes)
    val sn = media.find(_.id == 8L).get
    assert(sn.id % 3 == 2)
    val body = sn.content.clone()
    body(body.length - 40) = (body(body.length - 40) ^ 0x10).toByte
    assert(graft.ops.MultimodalOps.icebergManifestEntriesOf(
      graft.ops.MultimodalOps.MediaRecord(8L, "x", body)).isEmpty)
  }

  test("delta protocol gate: checkpoint-only protocol (retention-cleaned log) still gates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, struct, array}
    // the r17 advice scenario: log retention cleaned every
    // pre-checkpoint JSON commit, so the protocol action survives
    // ONLY inside the checkpoint parquet — a JSON-only gate would
    // silently pass and mis-census an unsupported table
    val dir = java.nio.file.Files.createTempDirectory("dlogcpproto")
    val cp = Seq(("b.parquet", 20L)).toDF("p", "sz")
      .select(
        struct(col("p").as("path"), col("sz").as("size"),
          lit(true).as("dataChange")).as("add"),
        lit(null).cast("struct<path:string>").as("remove"),
        lit(null)
          .cast("struct<minReaderVersion:int,readerFeatures:array<string>>")
          .as("protocol"))
      .unionByName(Seq(1).toDF("x")
        .select(
          lit(null)
            .cast("struct<path:string,size:bigint,dataChange:boolean>")
            .as("add"),
          lit(null).cast("struct<path:string>").as("remove"),
          struct(lit(3).as("minReaderVersion"),
            array(lit("deletionVectors"), lit("rowTracking"))
              .as("readerFeatures")).as("protocol")))
    val tmp = dir.resolve("_build")
    cp.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part, dir.resolve(f"${1}%020d.checkpoint.parquet"))
    java.nio.file.Files.write(dir.resolve("_last_checkpoint"),
      """{"version":1,"size":3}""".getBytes("UTF-8"))
    // zero JSON commits on disk: the gate must STILL see rowTracking
    val e = intercept[IllegalArgumentException] {
      StorageOps.deltaLogStateFromCheckpoint(spark, dir.toString).collect()
    }
    assert(e.getMessage.contains("rowTracking"))
    // a POST-checkpoint JSON protocol narrowing to supported features
    // is strictly newer and wins — the replay proceeds
    java.nio.file.Files.write(dir.resolve(f"${2}%020d.json"),
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"]}}""").getBytes("UTF-8"))
    val got = StorageOps.deltaLogStateFromCheckpoint(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("b.parquet", 20L)))
  }

  test("iceberg v3 MOR-DV splice: manifest-routed span decodes the blob without the footer") {
    import spark.implicits._
    import graft.ops.{MultimodalOps, StorageOps}
    val ids = spark.range(0, 21).toDF("doc_id")
    val media = StorageOps.synthesizePuffin(ids, "doc_id")
      .as[(Long, Array[Byte])].collect().toMap
    val entries = MultimodalOps.icebergManifestEntries(
      MultimodalOps.synthesizeIcebergV3DvManifest(ids, "doc_id")).collect()
    // one entry per EVEN id, content = 1, puffin-path file_path
    assert(entries.length == 11 && entries.forall(e =>
      e.content == 1L && e.id % 2 == 0 &&
        e.filePath == s"puffin/dv-${e.id}.puffin" &&
        e.referencedDataFile == s"data/part-${e.id}.parquet"))
    entries.foreach { e =>
      val expect = StorageOps.dvPositionsFor(e.id)
      // record_count IS the DV cardinality (v3 spec)
      assert(e.recordCount == expect.length.toLong)
      // the routed (offset, size) decodes the blob DIRECTLY — no
      // footer read — and yields exactly the synthesized positions
      val got = StorageOps.puffinDvBlobOf(
        media(e.id), e.contentOffset, e.contentSizeInBytes, e.recordCount)
      assert(got.contains(expect.sorted), s"id ${e.id}")
      // tampered cardinality must refuse (never resurrect deletes)
      assert(StorageOps.puffinDvBlobOf(
        media(e.id), e.contentOffset, e.contentSizeInBytes,
        e.recordCount + 1).isEmpty)
    }
  }

  test("avJsonValue: untrusted record field names escape like string values") {
    import graft.ops.MultimodalOps
    import graft.ops.MultimodalOps._
    // field NAMES come from the embedded writer schema — untrusted
    // bytes.  A quote / control char in a name must escape, or the
    // promised-valid partition_json garbles
    val name = "a\"b" + "\u0001"
    val rec = AvRecord("r", Vector((name, AvLong)))
    val d = Array[Byte](0x0e) // avro zigzag varint for 7
    val got = MultimodalOps.avJsonValue(rec, d, 0, d.length)
    assert(got.contains(("{\"a\\\"b\\u0001\":7}", 1)))
    // and the emitted text IS valid JSON: Jackson round-trips the
    // literal field name back out
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(got.get._1)
    assert(node.has(name) && node.get(name).asLong == 7L)
  }

  test("hudiTimelineState: a corrupt timeline file REJECTS the replay") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hudi-corrupt")
    java.nio.file.Files.write(dir.resolve("20240101.commit"),
      """{"partitionToWriteStats":{"pt=0":[{"fileId":"f-0","path":"pt=0/f-0_20240101.parquet","fileSizeInBytes":100}]}}"""
        .getBytes("UTF-8"))
    // a healthy timeline replays
    val ok = StorageOps.hudiTimelineState(spark, dir.toString).collect()
    assert(ok.length == 1 && ok.head.getString(1) == "f-0")
    // one unparseable commit file must fail the WHOLE replay — a
    // silently dropped commit is indistinguishable from data loss
    java.nio.file.Files.write(dir.resolve("20240102.commit"),
      "{not json at all".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      StorageOps.hudiTimelineState(spark, dir.toString)
    }
    // an empty timeline dir is a loud reject, not an empty answer
    val empty = java.nio.file.Files
      .createTempDirectory("graft-hudi-empty-tl")
    intercept[IllegalArgumentException] {
      StorageOps.hudiTimelineState(spark, empty.toString)
    }
  }

  test("hudiLogBlocksOf: decode fidelity, strict rejects, fuzz TOTAL") {
    import graft.ops.MultimodalOps
    // independent writer (the SparkEntry fixture writer's twin, local
    // to the test so the decode target is hand-derivable)
    def be32(v: Int) = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be64(v: Long) = be32((v >>> 32).toInt) ++ be32(v.toInt)
    def zz(v: Long): Array[Byte] = {
      var u = (v << 1) ^ (v >> 63)
      val bb = Array.newBuilder[Byte]
      var done = false
      while (!done) {
        val x = (u & 0x7f).toInt; u = u >>> 7
        bb += (if (u != 0) x | 0x80 else x).toByte
        done = u == 0
      }
      bb.result()
    }
    def avStr(x: String) = { val b = x.getBytes("UTF-8"); zz(b.length.toLong) ++ b }
    def block(ord: Int, hdrs: Seq[(Int, String)], content: Array[Byte]) = {
      val hb = be32(hdrs.length) ++ hdrs.flatMap { case (o, v) =>
        val vb = v.getBytes("UTF-8"); be32(o) ++ be32(vb.length) ++ vb }
      val body = be32(1) ++ be32(ord) ++ hb ++
        be64(content.length.toLong) ++ content ++ be32(0)
      "#HUDI#".getBytes("UTF-8") ++ be64(body.length + 8L) ++ body ++
        be64(14L + body.length + 8L)
    }
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"k","type":"string"},{"name":"v","type":"long"}]}"""
    val recs = Seq(avStr("a") ++ zz(7L), avStr("b") ++ zz(-3L))
    val content = be32(3) ++ be32(2) ++ recs.flatMap(r => be32(r.length) ++ r)
    val cmd = block(0, Seq(0 -> "t1", 1 -> "t0"), Array.emptyByteArray)
    val data = block(3, Seq(0 -> "t2", 2 -> schema), content)
    val log = cmd ++ data
    val got = StorageOps.hudiLogBlocksOf("f", log).get
    assert(got.map(_._1.block_type) == Vector(":command", "avro"))
    assert(got(1)._1.instant == "t2" && got(1)._1.record_count == 2L)
    assert(got(1)._2 == Vector("""{"k":"a","v":7}""", """{"k":"b","v":-3}"""))
    assert(got(0)._1.header_n == 2L && got(0)._2.isEmpty)
    // rollback fencing: a later :command block targeting t2 kills the
    // data block's records (census keeps the declared count, records
    // view goes empty) — and an untargeted block survives
    val cmd2 = block(0, Seq(0 -> "t9", 1 -> "t2", 3 -> "0"),
      Array.emptyByteArray)
    val rolled = StorageOps.hudiLogBlocksOf("f", log ++ cmd2).get
    assert(rolled(1)._1.rolled_back && rolled(1)._2.isEmpty &&
      rolled(1)._1.record_count == 2L)
    assert(!rolled(0)._1.rolled_back && rolled(2)._1.target_instant == "t2")
    // a command BEFORE the block it would target fences nothing
    // (rollback only reaches backward)
    val early = StorageOps.hudiLogBlocksOf("f", cmd2 ++ log).get
    assert(!early(2)._1.rolled_back && early(2)._2.length == 2)
    // strict rejects: truncation anywhere, wrong magic, bad ordinal,
    // total-length disagreement — all None, never a throw
    assert(StorageOps.hudiLogBlocksOf("f", log.dropRight(1)).isEmpty)
    assert(StorageOps.hudiLogBlocksOf("f", log.drop(1)).isEmpty)
    // block-type ordinal = BE i32 at +18 (magic 6, size 8, version 4)
    val badOrd = log.clone(); badOrd(cmd.length + 21) = 99.toByte
    assert(StorageOps.hudiLogBlocksOf("f", badOrd).isEmpty)
    // a record under-consuming its declared span rejects (size+1 pads)
    val padded = be32(3) ++ be32(1) ++ be32(recs.head.length + 1) ++
      recs.head ++ Array(0.toByte)
    assert(StorageOps.hudiLogBlocksOf("f",
      block(3, Seq(0 -> "t", 2 -> schema), padded)).isEmpty)
    // fuzz: seeded flips of real bytes + arbitrary buffers, TOTAL
    val rnd = new scala.util.Random(20260817)
    for (trial <- 0 until 2000) {
      val b =
        if (trial % 2 == 0) {
          val m = log.clone()
          (0 to rnd.nextInt(4)).foreach { _ =>
            val i = rnd.nextInt(m.length)
            m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
          }
          if (rnd.nextInt(3) == 0) m.take(rnd.nextInt(m.length)) else m
        } else {
          val n = rnd.nextInt(300)
          val m = new Array[Byte](n); rnd.nextBytes(m); m
        }
      try StorageOps.hudiLogBlocksOf("f", b)
      catch { case e: Throwable => fail(s"hudi log fuzz $trial threw: $e") }
    }
  }

  test("icebergManifestEntriesOf is TOTAL on arbitrary bytes (v3-routing arm incl.)") {
    import graft.ops.MultimodalOps
    val seeds = MultimodalOps.synthesizeIcebergManifestV2(
      spark.range(6).toDF("id"), "id").collect()
    // the seeds themselves decode (sanity: the fuzz mutates REAL
    // manifests, v3 routing fields included, not junk-only buffers)
    assert(seeds.forall(r =>
      MultimodalOps.icebergManifestEntriesOf(r).nonEmpty))
    val rnd = new scala.util.Random(20260818)
    for (trial <- 0 until 3000) {
      val b =
        if (trial % 2 == 0) {
          val m = seeds(rnd.nextInt(seeds.length)).content.clone()
          (0 to rnd.nextInt(4)).foreach { _ =>
            val i = rnd.nextInt(m.length)
            m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
          }
          if (rnd.nextInt(3) == 0) m.take(rnd.nextInt(m.length)) else m
        } else {
          val n = rnd.nextInt(400)
          val m = new Array[Byte](n); rnd.nextBytes(m); m
        }
      try MultimodalOps.icebergManifestEntriesOf(
        MultimodalOps.MediaRecord(trial.toLong, "avro/binary", b))
      catch {
        case e: Throwable => fail(s"manifest fuzz $trial threw: $e")
      }
    }
  }

  test("hudiParquetBlockRows: embedded-file decode round-trip, corrupt reject, fuzz TOTAL") {
    import graft.ops.StorageOps
    // a real parquet file (spark-written) as the block content
    val tmp = java.nio.file.Files.createTempDirectory("graft-pqblk").toString
    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s",
        "CAST(id AS DOUBLE) * 0.5 AS d",
        "CASE WHEN id = 3 THEN NULL ELSE id * 2 END AS n")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    val (n, rows) = StorageOps.hudiParquetBlockRows(bytes).get
    assert(n == 5L && rows.length == 5)
    // field names from the schema, nulls as JSON null, shortest
    // round-trip doubles — the record_json contract
    assert(rows.head == """{"id":0,"s":"0","d":0.0,"n":0}""")
    assert(rows(3).contains(""""n":null"""))
    // a decimal column's scale cannot survive the raw walk — reject
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-pqdec").toString
    spark.range(3).selectExpr("id", "CAST(id AS DECIMAL(10,2)) AS dec")
      .coalesce(1).write.mode("overwrite").parquet(tmp2)
    val decPart = new java.io.File(tmp2).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(StorageOps.hudiParquetBlockRows(
      java.nio.file.Files.readAllBytes(decPart.toPath)).isEmpty)
    // corrupt content (footer magic flipped) rejects, never throws
    val bad = bytes.clone(); bad(bad.length - 1) = 'X'.toByte
    assert(StorageOps.hudiParquetBlockRows(bad).isEmpty)
    // fuzz: flips/truncations + junk buffers, TOTAL
    val rnd = new scala.util.Random(20260820)
    for (trial <- 0 until 300) {
      val b =
        if (trial % 2 == 0) {
          val m = bytes.clone()
          (0 to rnd.nextInt(4)).foreach { _ =>
            val i = rnd.nextInt(m.length)
            m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
          }
          if (rnd.nextInt(3) == 0) m.take(rnd.nextInt(m.length)) else m
        } else {
          val m = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(m); m
        }
      try StorageOps.hudiParquetBlockRows(b)
      catch { case e: Throwable => fail(s"pq block fuzz $trial threw: $e") }
    }
  }

  test("hudiLogRecordChunks: chunked decode == monolithic walk; fuzz TOTAL") {
    import graft.ops.StorageOps
    // the staged five-block slice log (avro + delete + rolled-back
    // poison + command + parquet) through BOTH readers
    val slice = board.LakehouseQueries.stageHudiMorSlice(spark, sf001)
    val logFile = new java.io.File(s"$slice/logs").listFiles()
      .find(_.getName.contains(".log.")).get
    val bytes = java.nio.file.Files.readAllBytes(logFile.toPath)
    val mono = StorageOps.hudiLogBlocksOf("f", bytes).get
      .flatMap { case (blk, recs) => recs.map((blk.block_seq, _)) }
    // tiny chunk target forces MANY chunks — the split boundaries
    // must be invisible in the reassembled record stream
    val chunks = StorageOps.hudiLogRecordChunks(
      logFile.toString, bytes, 7).get
    assert(chunks.count(_.block_type == "parquet") == 1)
    assert(chunks.count(_.block_type == "avro") > 2) // split happened
    val reassembled = chunks.flatMap { c =>
      val span = java.util.Arrays.copyOfRange(
        bytes, c.from.toInt, c.until.toInt)
      StorageOps.hudiDecodeChunk(c, span).map((c.block_seq, _))
    }
    assert(reassembled == mono)
    // rolled-back blocks yield NO chunks (the fence reaches here too)
    assert(!chunks.exists(_.instant == "20240104000000"))
    // fuzz: the chunk scan is TOTAL on arbitrary bytes
    val rnd = new scala.util.Random(20260821)
    for (trial <- 0 until 1000) {
      val b =
        if (trial % 2 == 0) {
          val m = bytes.clone()
          (0 to rnd.nextInt(4)).foreach { _ =>
            val i = rnd.nextInt(m.length)
            m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
          }
          if (rnd.nextInt(3) == 0) m.take(rnd.nextInt(m.length)) else m
        } else {
          val m = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(m); m
        }
      try StorageOps.hudiLogRecordChunks("f", b, 7)
      catch { case e: Throwable => fail(s"chunk fuzz $trial threw: $e") }
    }
  }

  test("hudi read paths: type gates reject the wrong table; empty incremental delta keeps schema") {
    val cow = board.LakehouseQueries.stageHudiCowTable(spark, sf001)
    val mor = board.LakehouseQueries.stageHudiMorTable(spark, sf001)
    // category errors reject loudly
    intercept[IllegalArgumentException] {
      StorageOps.hudiIncremental(spark, mor, "0")
    }
    intercept[IllegalArgumentException] {
      StorageOps.hudiReadOptimized(spark, cow)
    }
    intercept[IllegalArgumentException] {
      StorageOps.hudiMorSnapshot(spark, cow)
    }
    intercept[IllegalArgumentException] {
      StorageOps.hudiCowSnapshot(spark, mor)
    }
    // a begin instant past every commit is a LEGITIMATE empty delta —
    // zero rows, snapshot schema intact (not a throw, not a null)
    val empty = StorageOps.hudiIncremental(spark, cow, "20240102000000")
    assert(empty.count() == 0L &&
      empty.columns.contains("_hoodie_commit_time"))
  }

  test("hudiFileSlices: compaction resets the log window; replaced groups die") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hudi-slices")
    def commit(name: String, body: String): Unit = {
      java.nio.file.Files.write(dir.resolve(name), body.getBytes("UTF-8")); ()
    }
    def ws(fid: String, path: String) =
      s"""{"fileId":"$fid","path":"$path","fileSizeInBytes":10}"""
    // c1: f-0 base + first log; c2: second log; c3: COMPACTION writes
    // a fresh base (the .commit) — the two earlier logs are absorbed
    // into it and must leave the slice; c4: a post-compaction log
    commit("1.deltacommit", s"""{"partitionToWriteStats":{"p":[${
      ws("f-0", "p/f-0_1.parquet")},${ws("f-0", "p/.f-0_1.log.1")}]}}""")
    commit("2.deltacommit", s"""{"partitionToWriteStats":{"p":[${
      ws("f-0", "p/.f-0_1.log.2")}]}}""")
    commit("3.commit", s"""{"partitionToWriteStats":{"p":[${
      ws("f-0", "p/f-0_3.parquet")}]}}""")
    commit("4.deltacommit", s"""{"partitionToWriteStats":{"p":[${
      ws("f-0", "p/.f-0_3.log.1")},${ws("f-9", "p/f-9_4.parquet")}]}}""")
    // c5: clustering replaces f-9 — it must vanish entirely
    commit("5.replacecommit", s"""{"partitionToWriteStats":{"p":[${
      ws("f-7", "p/f-7_5.parquet")}]},"partitionToReplaceFileIds":{"p":["f-9"]}}""")
    val got = StorageOps.hudiFileSlices(spark, dir.toString)
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(got == Set(
      ("f-0", "base", "p/f-0_3.parquet"), // compacted base, not c1's
      ("f-0", "log", "p/.f-0_3.log.1"),   // only the post-c3 log
      ("f-7", "base", "p/f-7_5.parquet")), // f-9 replaced away
      s"got $got")
  }

  test("orcStripeFooterEncodings is TOTAL on arbitrary bytes (10k-trial fuzz)") {
    val rnd = new scala.util.Random(20260819)
    for (trial <- 0 until 10000) {
      val n = rnd.nextInt(200)
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      try StorageOps.orcStripeFooterEncodings(b)
      catch { case e: Throwable => fail(s"trial $trial threw: $e") }
    }
  }
}
