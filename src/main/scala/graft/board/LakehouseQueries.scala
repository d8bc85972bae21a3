package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{MultimodalOps, StreamingOps}
import SparkEntry._

/** Table-format rows: Delta logs, Iceberg metadata and manifests,
  * Hudi timelines and file slices, and Puffin deletion vectors, with
  * the fixture stagers they read.
  */
object LakehouseQueries {

  /** Stage a deterministic Delta-style commit log: 12 versions, each
    * a `%020d.json` of add/remove/commitInfo lines — version v adds
    * `part-v-k.parquet` (k 0..2, size 1000 + 137v + k), v ≥ 3 removes
    * `part-(v-3)-(v%3).parquet`, and v10 RE-ADDS the v3-removed
    * `part-0-0.parquet` at size 9999 (the last-action-wins case).
    * Corpus-independent by design so the oracle is pure arithmetic.
    */
  private[graft] def stageDeltaLog(dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, "deltalog")
      java.nio.file.Files.createDirectories(staged)
      (0 until 12).foreach { v =>
        val lines = Seq.newBuilder[String]
        lines += s"""{"commitInfo":{"timestamp":${1700000000000L + v}}}"""
        (0 until 3).foreach { k =>
          lines += s"""{"add":{"path":"part-$v-$k.parquet","size":${1000 + 137 * v + k},"dataChange":true}}"""
        }
        if (v >= 3)
          lines += s"""{"remove":{"path":"part-${v - 3}-${v % 3}.parquet"}}"""
        if (v == 10)
          lines += s"""{"add":{"path":"part-0-0.parquet","size":9999,"dataChange":true}}"""
        java.nio.file.Files.write(staged.resolve(f"$v%020d.json"),
          lines.result().mkString("\n").getBytes("UTF-8"))
      }
      staged.toString
    }

  /** Stage a COLUMN-MAPPED Delta log: protocol v3 with the
    * columnMapping reader feature, a metaData action whose schema
    * carries `delta.columnMapping.physicalName` per field
    * (mode=name), and add actions whose `stats` JSON is keyed by the
    * PHYSICAL names — the shape every Databricks-written table has
    * after a column rename.  v4 removes f-1 so the census proves it
    * reads the LIVE set only.
    */
  private[graft] def stageDeltaLogMapped(dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged =
        java.nio.file.Paths.get("/tmp/graft-stream", key, "deltalogmap")
      java.nio.file.Files.createDirectories(staged)
      def esc(s: String): String =
        s.replace("\\", "\\\\").replace("\"", "\\\"")
      val schemaJson =
        """{"type":"struct","fields":[""" +
          """{"name":"doc_id","type":"long","nullable":true,"metadata":""" +
          """{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-9f8a"}},""" +
          """{"name":"lang","type":"string","nullable":true,"metadata":""" +
          """{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-3c7d"}}]}"""
      val v0 = Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
        s"""{"metaData":{"id":"m-1","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${esc(schemaJson)}","partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2"},"createdTime":1700000000000}}""")
      java.nio.file.Files.write(staged.resolve(f"${0}%020d.json"),
        v0.mkString("\n").getBytes("UTF-8"))
      (1 to 5).foreach { v =>
        val stats =
          s"""{"numRecords":${100 + v},""" +
            s""""minValues":{"col-9f8a":${v * 10},"col-3c7d":"a$v"},""" +
            s""""maxValues":{"col-9f8a":${v * 10 + 9},"col-3c7d":"z$v"},""" +
            s""""nullCount":{"col-9f8a":0,"col-3c7d":$v}}"""
        val lines = Seq.newBuilder[String]
        lines += s"""{"commitInfo":{"timestamp":${1700000001000L + v}}}"""
        lines += s"""{"add":{"path":"f-$v.parquet","size":${5000 + v},""" +
          s""""dataChange":true,""" +
          s""""partitionValues":{"col-3c7d":"p${v % 2}"},""" +
          s""""stats":"${esc(stats)}"}}"""
        if (v == 4)
          lines += """{"remove":{"path":"f-1.parquet"}}"""
        java.nio.file.Files.write(staged.resolve(f"$v%020d.json"),
          lines.result().mkString("\n").getBytes("UTF-8"))
      }
      staged.toString
    }

  /** Stage the synthesized v2 Iceberg manifests to parquet ONCE per
    * source fingerprint (the stageShardFiles discipline, extended to
    * the board's most staging-bound row — 14× at ×10 data, all
    * synthesis): census passes then time the DECODE, not the Avro
    * container synthesis.  Shared by q_iceberg_manifest_v2 and
    * q_iceberg_manifest_eq.  Recipe key bumps when the synthesizer
    * changes (icebergv2-v2 carries equality_ids).
    */
  private[graft] def stageIcebergManifestV2(s: SparkSession, dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-icebergv2-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("documents"), "icebergv2-v5")
      if (!stageUpToDate(out, fp)) {
        MultimodalOps.synthesizeIcebergManifestV2(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id")
          .write.mode("overwrite").parquet(s"$out/media")
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage the q_iceberg_mor_eq equality-delete FILE once: a real
    * parquet file whose rows ARE the delete tuples over the
    * equality_ids columns plus the delete's sequence number — the
    * decode step is the parquet read itself, per spec.
    */
  private[graft] def stageIcebergEqDeleteFile(s: SparkSession): String =
    StreamingOps.stageLock.synchronized {
      val out = "/tmp/graft-iceberg-eqdel-stage"
      val fp = "iceberg-eqdel-v1"
      if (!stageUpToDate(out, fp)) {
        import s.implicits._
        Seq(("de", 3L), ("fr", 5L)).toDF("lang", "delete_seq")
          .coalesce(1).write.mode("overwrite").parquet(s"$out/eqdel")
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage the SAME deterministic commit log as [[stageDeltaLog]] PLUS
    * the protocol's checkpoint machinery: a checkpoint parquet at
    * version 9 holding the state AT v9 (live adds + remove
    * tombstones, computed by the same replay rules in driver code)
    * and the `_last_checkpoint` pointer.  Commits 0-11 all remain on
    * disk — realistic retention — so the reader must prove it ignores
    * the subsumed ones.  The v10 resurrection of `part-0-0.parquet`
    * happens AFTER the checkpoint, exercising re-add-over-tombstone
    * across the checkpoint boundary.
    */
  private[graft] def stageDeltaLogCheckpointed(s: SparkSession, dir: String): String =
    stageDeltaLogCheckpointedImpl(s, dir, parts = 1)

  /** Same table, multi-part checkpoint LAYOUT: the protocol's
    * large-table form (`parts` in `_last_checkpoint`, actions split
    * across `V.checkpoint.i-of-N.parquet`).  Adds land in part 1,
    * tombstones in part 2 — the split is arbitrary by design; the
    * reader must not care.
    */
  private[graft] def stageDeltaLogCheckpointedMultipart(
      s: SparkSession, dir: String): String =
    stageDeltaLogCheckpointedImpl(s, dir, parts = 2)

  /** Same table, v2 (UUID-named) checkpoint LAYOUT: the top file
    * carries the tombstones plus `sidecar` actions naming two
    * `_sidecars/` files that split the adds — the third physical
    * layout onto the same oracle.  parts == 0 is the v2 marker.
    */
  private[graft] def stageDeltaLogCheckpointedV2(
      s: SparkSession, dir: String): String =
    stageDeltaLogCheckpointedImpl(s, dir, parts = 0)

  private def stageDeltaLogCheckpointedImpl(
      s: SparkSession, dir: String, parts: Int): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val sub = parts match {
        case 1 => "deltalogcp"
        case 0 => "deltalogcpv2"
        case n => s"deltalogcp$n"
      }
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, sub)
      java.nio.file.Files.createDirectories(staged)
      (0 until 12).foreach { v =>
        val lines = Seq.newBuilder[String]
        lines += s"""{"commitInfo":{"timestamp":${1700000000000L + v}}}"""
        (0 until 3).foreach { k =>
          lines += s"""{"add":{"path":"part-$v-$k.parquet","size":${1000 + 137 * v + k},"dataChange":true}}"""
        }
        if (v >= 3)
          lines += s"""{"remove":{"path":"part-${v - 3}-${v % 3}.parquet"}}"""
        if (v == 10)
          lines += s"""{"add":{"path":"part-0-0.parquet","size":9999,"dataChange":true}}"""
        java.nio.file.Files.write(staged.resolve(f"$v%020d.json"),
          lines.result().mkString("\n").getBytes("UTF-8"))
      }
      val cpVersion = 9
      val sidecarNames = Seq("sc-00001.parquet", "sc-00002.parquet")
      val cpFiles: Seq[java.nio.file.Path] =
        if (parts == 1)
          Seq(staged.resolve(f"$cpVersion%020d.checkpoint.parquet"))
        else if (parts == 0) { // v2: UUID top + sidecars
          java.nio.file.Files.createDirectories(staged.resolve("_sidecars"))
          staged.resolve(f"$cpVersion%020d.checkpoint." +
            "0f16aa71-0000-4000-8000-000000000016.parquet") +:
            sidecarNames.map(n => staged.resolve("_sidecars").resolve(n))
        } else (1 to parts).map(i => staged.resolve(
          f"$cpVersion%020d.checkpoint.$i%010d.$parts%010d.parquet"))
      if (!cpFiles.forall(java.nio.file.Files.exists(_))) {
        // the state at v9 by the same replay rules, in driver code:
        // adds (v,k) v<=9 not yet removed; tombstones for the removed
        val removed = (3 to cpVersion).map(v => (v - 3, v % 3)).toSet
        val liveAdds = for {
          v <- 0 to cpVersion; k <- 0 until 3
          if !removed.contains((v, k))
        } yield (s"part-$v-$k.parquet", (1000 + 137 * v + k).toLong, true)
        import s.implicits._
        import org.apache.spark.sql.functions.{lit => flit, struct => fstruct, col => fcol}
        val addsDf =
          liveAdds.toDF("p", "sz", "dc")
            .select(fstruct(fcol("p").as("path"), fcol("sz").as("size"),
              fcol("dc").as("dataChange")).as("add"),
              flit(null).cast("struct<path:string>").as("remove"))
        val removesDf =
          removed.toSeq.sorted.map { case (rv, rk) => s"part-$rv-$rk.parquet" }
            .toDF("p")
            .select(flit(null)
              .cast("struct<path:string,size:bigint,dataChange:boolean>")
              .as("add"),
              fstruct(fcol("p").as("path")).as("remove"))
        // single-part: one file with everything; multi-part: adds in
        // part 1, tombstones in part 2; v2: tombstones + sidecar
        // actions in the UUID top file, adds split across the two
        // sidecars (the split is arbitrary by design — the reader
        // must not care)
        val chunks =
          if (parts == 1) Seq(addsDf.unionByName(removesDf))
          else if (parts == 0) {
            val scType = "struct<path:string>"
            val addType = "struct<path:string,size:bigint,dataChange:boolean>"
            val sidecarRows = sidecarNames.toDF("p")
              .select(flit(null).cast(addType).as("add"),
                flit(null).cast(scType).as("remove"),
                fstruct(fcol("p").as("path")).as("sidecar"))
            val top = removesDf
              .select(fcol("add"), fcol("remove"),
                flit(null).cast(scType).as("sidecar"))
              .unionByName(sidecarRows)
            val (evens, odds) = liveAdds.zipWithIndex.partition(_._2 % 2 == 0)
            def addsChunk(xs: Seq[((String, Long, Boolean), Int)]) =
              xs.map(_._1).toDF("p", "sz", "dc")
                .select(fstruct(fcol("p").as("path"), fcol("sz").as("size"),
                  fcol("dc").as("dataChange")).as("add"),
                  flit(null).cast(scType).as("remove"))
            Seq(top, addsChunk(evens), addsChunk(odds))
          }
          else Seq(addsDf, removesDf)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        chunks.zip(cpFiles).foreach { case (chunk, cpFile) =>
          val tmpOut = staged.resolve(s"_cp_build_$cpVersion")
          chunk.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
          val part = java.nio.file.Files.list(tmpOut).toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error("checkpoint build produced no parquet"))
          java.nio.file.Files.copy(part, cpFile,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          rm(tmpOut.toFile)
        }
        val partsField = if (parts >= 2) s""","parts":$parts""" else ""
        java.nio.file.Files.write(staged.resolve("_last_checkpoint"),
          s"""{"version":$cpVersion,"size":${liveAdds.size + removed.size}$partsField}"""
            .getBytes("UTF-8"))
      }
      staged.toString
    }

  /** Stage a Hudi TABLE ROOT: `.hoodie/hoodie.properties` (written
    * through java.util.Properties, continuations/escapes included —
    * independent writer) for the entry-point census.
    */
  private[graft] def stageHudiTableRoot(dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val root = java.nio.file.Paths.get("/tmp/graft-stream", key, "hudiroot")
      java.nio.file.Files.createDirectories(root.resolve(".hoodie"))
      val props = new java.util.Properties()
      props.setProperty("hoodie.table.name", "graft_events")
      props.setProperty("hoodie.table.type", "COPY_ON_WRITE")
      props.setProperty("hoodie.table.version", "6")
      props.setProperty("hoodie.timeline.layout.version", "1")
      props.setProperty("hoodie.datasource.write.partitionpath.field", "pt")
      props.setProperty("hoodie.table.keygenerator.class",
        "org.apache.hudi.keygen.SimpleKeyGenerator")
      val out = java.nio.file.Files.newOutputStream(
        root.resolve(".hoodie/hoodie.properties"))
      try props.store(out, "graft fixture")
      finally out.close()
      root.toString
    }

  /** Stage a deterministic Hudi-style timeline: instants 20240100+t,
    * t 0..9; commit t writes file groups `f-<(2t+k)%12>` (k 0..1) in
    * partition `pt=<t%2>` at size `2000 + 61t + k` — fileId reuse
    * across commits is the update path (same parity → same
    * partition, so the newest slice supersedes).  t=8 is a
    * REPLACECOMMIT: it replaces `f-0`/`f-1` (whose last writes were
    * t=6 — clustering kills them) and writes `f-100`/`f-101`.
    * Corpus-independent so the oracle is closed-form arithmetic.
    */
  private[graft] def stageHudiTimeline(dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md
      val staged = java.nio.file.Paths.get("/tmp/graft-stream", key, "hooditl")
      java.nio.file.Files.createDirectories(staged)
      (0 until 10).foreach { t =>
        val instant = 20240100 + t
        if (t != 8) {
          val stats = (0 until 2).map { k =>
            val id = (2 * t + k) % 12
            s"""{"fileId":"f-$id","path":"pt=${t % 2}/f-${id}_$instant.parquet","fileSizeInBytes":${2000 + 61 * t + k}}"""
          }.mkString(",")
          java.nio.file.Files.write(staged.resolve(s"$instant.commit"),
            s"""{"partitionToWriteStats":{"pt=${t % 2}":[$stats]}}"""
              .getBytes("UTF-8"))
        } else {
          val writes = Seq(9000, 9001).zipWithIndex.map { case (sz, i) =>
            s"""{"fileId":"f-10${i}","path":"pt=0/f-10${i}_$instant.parquet","fileSizeInBytes":$sz}"""
          }.mkString(",")
          java.nio.file.Files.write(staged.resolve(s"$instant.replacecommit"),
            s"""{"partitionToWriteStats":{"pt=0":[$writes]},"partitionToReplaceFileIds":{"pt=0":["f-0","f-1"]}}"""
              .getBytes("UTF-8"))
        }
      }
      staged.toString
    }

  /** Move-a-part-file single parquet write shared by the lakehouse
    * table stagings: the fixtures need FILES at protocol-mandated
    * names, Spark writes directories — write coalesced to a scratch
    * dir, move the one part file into place, drop the scratch.
    */
  private def stageSingleParquet(
      df: DataFrame, dest: java.nio.file.Path): Unit = {
    val tmp = dest.getParent.resolve(s"_build_${dest.getFileName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"stageSingleParquet: no parquet part in $tmp"))
    java.nio.file.Files.move(part, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(tmp.toFile)
  }

  /** Stage a REAL two-commit Hudi COPY_ON_WRITE table from orders:
    * commit c1 writes four base files (file groups f-0..f-3 keyed by
    * o_orderkey % 4; partitions pt=0 for groups 0-1, pt=1 for 2-3);
    * commit c2 REWRITES file group f-1's slice — the COW upsert
    * shape: the whole group re-written with o_totalprice + 1.5 — so
    * the snapshot must read f-1's c2 file and the other groups' c1
    * files.  Base files carry the meta columns the real writer
    * materializes (_hoodie_record_key, _hoodie_partition_path).
    * Pure o_orderkey arithmetic → closed-form DuckDB oracle.
    */
  private[graft] def stageHudiCowTable(s: SparkSession, dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-hudicow-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("orders"), "hudicow-v2")
      if (!stageUpToDate(out, fp)) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(out))
        val root = java.nio.file.Paths.get(out)
        java.nio.file.Files.createDirectories(root.resolve(".hoodie"))
        val props = new java.util.Properties()
        props.setProperty("hoodie.table.name", "graft_orders_cow")
        props.setProperty("hoodie.table.type", "COPY_ON_WRITE")
        props.setProperty("hoodie.table.version", "6")
        props.setProperty("hoodie.datasource.write.partitionpath.field", "pt")
        val os = java.nio.file.Files.newOutputStream(
          root.resolve(".hoodie/hoodie.properties"))
        try props.store(os, "graft fixture") finally os.close()
        val c1 = "20240101000000"
        val c2 = "20240102000000"
        val orders = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
        def withMeta(df: DataFrame, pt: Int, ct: String): DataFrame = df
          .withColumn("_hoodie_commit_time", lit(ct))
          .withColumn("_hoodie_record_key", col("o_orderkey").cast("string"))
          .withColumn("_hoodie_partition_path", lit(s"pt=$pt"))
          .select(col("_hoodie_commit_time"), col("_hoodie_record_key"),
            col("_hoodie_partition_path"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
        val slices = (0 until 4).map { g =>
          val pt = if (g < 2) 0 else 1
          val rel = s"pt=$pt/f-${g}_$c1.parquet"
          val dest = root.resolve(rel)
          java.nio.file.Files.createDirectories(dest.getParent)
          stageSingleParquet(
            withMeta(orders.filter(col("o_orderkey") % 4 === g), pt, c1),
            dest)
          (s"pt=$pt", s"f-$g", rel, java.nio.file.Files.size(dest))
        }
        // the c2 COW rewrite updates EVERY group-1 row, so every row
        // of the new slice carries commit time c2 (unchanged rows in
        // a real partial upsert would retain their original time)
        val rel2 = s"pt=0/f-1_$c2.parquet"
        val dest2 = root.resolve(rel2)
        stageSingleParquet(
          withMeta(orders.filter(col("o_orderkey") % 4 === 1)
            .withColumn("o_totalprice", col("o_totalprice") + 1.5), 0, c2),
          dest2)
        def ws(fid: String, rel: String, sz: Long) =
          s"""{"fileId":"$fid","path":"$rel","fileSizeInBytes":$sz}"""
        val byPt = slices.groupBy(_._1).toSeq.sortBy(_._1).map {
          case (pt, xs) =>
            s""""$pt":[${xs.map(x => ws(x._2, x._3, x._4)).mkString(",")}]"""
        }.mkString(",")
        java.nio.file.Files.write(root.resolve(s".hoodie/$c1.commit"),
          s"""{"partitionToWriteStats":{$byPt}}""".getBytes("UTF-8"))
        java.nio.file.Files.write(root.resolve(s".hoodie/$c2.commit"),
          s"""{"partitionToWriteStats":{"pt=0":[${
            ws("f-1", rel2, java.nio.file.Files.size(dest2))}]}}"""
            .getBytes("UTF-8"))
        writeStageMarker(out, fp)
      }
      out
    }

  // ---- shared HoodieLogFormat byte writers (independent from-layout
  // writer: big-endian sizes, ordinal header maps, sized avro-binary
  // records — the reader decodes a foreign artifact, not its own
  // serializer's output) ----
  private def havZz(v: Long): Array[Byte] = {
    var u = (v << 1) ^ (v >> 63)
    val bb = Array.newBuilder[Byte]
    var done = false
    while (!done) {
      val x = (u & 0x7f).toInt
      u = u >>> 7
      bb += (if (u != 0) x | 0x80 else x).toByte
      done = u == 0
    }
    bb.result()
  }

  private def havStr(x: String): Array[Byte] = {
    val by = x.getBytes("UTF-8"); havZz(by.length.toLong) ++ by
  }

  private def havDbl(d: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(d)
    Array.tabulate(8)(i => ((bits >>> (8 * i)) & 0xff).toByte)
  }

  private def hbe32(v: Int): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def hbe64(v: Long): Array[Byte] =
    hbe32((v >>> 32).toInt) ++ hbe32(v.toInt)

  private def havroContent(recs: Seq[Array[Byte]]): Array[Byte] =
    hbe32(3) ++ hbe32(recs.length) ++
      recs.flatMap(r => hbe32(r.length) ++ r)

  private def hlogBlock(typeOrd: Int, headers: Seq[(Int, String)],
      content: Array[Byte]): Array[Byte] = {
    val hdrB = hbe32(headers.length) ++ headers.flatMap { case (o, v) =>
      val vb = v.getBytes("UTF-8")
      hbe32(o) ++ hbe32(vb.length) ++ vb
    }
    val body = hbe32(1) ++ hbe32(typeOrd) ++ hdrB ++
      hbe64(content.length.toLong) ++ content ++ hbe32(0)
    val bsize = body.length + 8L
    "#HUDI#".getBytes("UTF-8") ++ hbe64(bsize) ++ body ++
      hbe64(14L + bsize)
  }

  private val HudiUpdSchema: String =
    """{"type":"record","name":"r","fields":[""" +
      """{"name":"_hoodie_record_key","type":"string"},""" +
      """{"name":"o_orderkey","type":"long"},""" +
      """{"name":"o_custkey","type":"long"},""" +
      """{"name":"o_totalprice","type":"double"},""" +
      """{"name":"o_orderpriority","type":"string"}]}"""

  private val HudiDelSchema: String =
    """{"type":"record","name":"d","fields":[""" +
      """{"name":"recordKey","type":"string"}]}"""

  /** The five-block MOR delta log shared by the slice and table
    * fixtures (every touched key is even, so the log applies to any
    * base holding the even keys): c2 AVRO_DATA_BLOCK doubling %12
    * keys' price, c3 DELETE_BLOCK dropping %20 keys, c4 POISON
    * update (+1000 on %8 keys — would corrupt the merge), c5
    * :command rollback fencing c4, c6 PARQUET_DATA_BLOCK tripling
    * %16 keys' price.  %60 keys pin update-then-delete ordering, the
    * c4/c5 pair pins rollback fencing, %48 keys pin parquet-over-avro
    * instant ordering, and %80 keys pin delete-then-upsert
    * RESURRECTION across wire formats.
    */
  private def hudiMorLogBytes(orders: DataFrame): Array[Byte] = {
    val c2 = "20240102000000"
    val c3 = "20240103000000"
    val c4 = "20240104000000"
    val c5 = "20240105000000"
    val updRecs = orders.filter(col("o_orderkey") % 12 === 0)
      .orderBy("o_orderkey").collect().map { r =>
        val k = r.getLong(0)
        havStr(k.toString) ++ havZz(k) ++ havZz(r.getLong(1)) ++
          havDbl(r.getDouble(2) * 2) ++ havStr(r.getString(3))
      }.toSeq
    val delRecs = orders.filter(col("o_orderkey") % 20 === 0)
      .orderBy("o_orderkey").collect()
      .map(r => havStr(r.getLong(0).toString)).toSeq
    val poisonRecs = orders.filter(col("o_orderkey") % 8 === 0)
      .orderBy("o_orderkey").collect().map { r =>
        val k = r.getLong(0)
        havStr(k.toString) ++ havZz(k) ++ havZz(r.getLong(1)) ++
          havDbl(r.getDouble(2) + 1000.0) ++ havStr(r.getString(3))
      }.toSeq
    // block 5: PARQUET_DATA_BLOCK at c6 — the modern wide-table wire
    // format; %16 keys' price tripled, overriding c2's %12 doubling on
    // %48 keys and RESURRECTING %80 keys past c3's delete (latest
    // action wins, across wire formats)
    val c6 = "20240106000000"
    val tmp = java.nio.file.Files.createTempDirectory("graft-hudi-pqblk")
    val pqFile = tmp.resolve("blk.parquet")
    stageSingleParquet(
      hudiMetaKeyed(orders.filter(col("o_orderkey") % 16 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3)),
      pqFile)
    val pqBytes = java.nio.file.Files.readAllBytes(pqFile)
    java.nio.file.Files.delete(pqFile)
    java.nio.file.Files.delete(tmp)
    hlogBlock(3, Seq(0 -> c2, 2 -> HudiUpdSchema), havroContent(updRecs)) ++
      hlogBlock(1, Seq(0 -> c3, 2 -> HudiDelSchema), havroContent(delRecs)) ++
      hlogBlock(3, Seq(0 -> c4, 2 -> HudiUpdSchema),
        havroContent(poisonRecs)) ++
      hlogBlock(0, Seq(0 -> c5, 1 -> c4, 3 -> "0"), Array.emptyByteArray) ++
      hlogBlock(5, Seq(0 -> c6), pqBytes)
  }

  private def hudiMetaKeyed(df: DataFrame): DataFrame = df
    .withColumn("_hoodie_record_key", col("o_orderkey").cast("string"))
    .select(col("_hoodie_record_key"), col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))

  /** Stage a single Hudi MOR file slice: base file f-0 (o_orderkey %
    * 4 == 0 rows, instant c1) plus its dot-prefixed five-block delta
    * log ([[hudiMorLogBytes]]).
    */
  private[graft] def stageHudiMorSlice(s: SparkSession, dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-hudimor-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("orders"), "hudimor-v4")
      if (!stageUpToDate(out, fp)) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(out))
        val root = java.nio.file.Paths.get(out)
        java.nio.file.Files.createDirectories(root.resolve("base"))
        java.nio.file.Files.createDirectories(root.resolve("logs"))
        val c1 = "20240101000000"
        val orders = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
        stageSingleParquet(
          hudiMetaKeyed(orders.filter(col("o_orderkey") % 4 === 0)),
          root.resolve(s"base/f-0_$c1.parquet"))
        java.nio.file.Files.write(root.resolve(s"logs/.f-0_$c1.log.1"),
          hudiMorLogBytes(orders))
        writeStageMarker(out, fp)
      }
      out
    }

  /** Stage an archived-timeline dir: three HoodieLogFormat segments
    * (`commits_.archive.N`), each an AVRO_DATA_BLOCK of ten archived
    * instants — commitTime 20231201000000+t, actionType cycling
    * commit/deltacommit/clean — written by the shared independent
    * log writer.  Corpus-independent: the oracle is closed-form
    * generate_series arithmetic.
    */
  private[graft] def stageHudiArchive(dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = java.nio.file.Paths.get(s"/tmp/graft-hudiarch-stage-$md")
      java.nio.file.Files.createDirectories(out)
      val schema =
        """{"type":"record","name":"a","fields":[""" +
          """{"name":"commitTime","type":"string"},""" +
          """{"name":"actionType","type":"string"}]}"""
      val actions = Vector("commit", "deltacommit", "clean")
      (0 until 3).foreach { seg =>
        val recs = (0 until 10).map { k =>
          val t = seg * 10 + k
          havStr((20231201000000L + t).toString) ++ havStr(actions(t % 3))
        }
        java.nio.file.Files.write(
          out.resolve(s"commits_.archive.${seg + 1}"),
          hlogBlock(3, Seq(0 -> s"arch$seg", 2 -> schema),
            havroContent(recs)))
      }
      out.toString
    }

  /** Stage a FULL Hudi MERGE_ON_READ table root: hoodie.properties
    * (MERGE_ON_READ), c1.deltacommit writing two base files (f-0 =
    * even keys, f-1 = odd keys, one partition), c2.deltacommit
    * writing f-0's delta log ([[hudiMorLogBytes]] — every touched
    * key is even, so f-1 reads base-only).  The snapshot must merge
    * f-0 with its log and pass f-1 through untouched.
    */
  private[graft] def stageHudiMorTable(s: SparkSession, dir: String): String =
    StreamingOps.stageLock.synchronized {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val out = s"/tmp/graft-hudimortbl-stage-$md"
      val fp = stageFingerprint(s, dir, Seq("orders"), "hudimortbl-v2")
      if (!stageUpToDate(out, fp)) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(out))
        val root = java.nio.file.Paths.get(out)
        java.nio.file.Files.createDirectories(root.resolve(".hoodie"))
        java.nio.file.Files.createDirectories(root.resolve("pt=0"))
        val props = new java.util.Properties()
        props.setProperty("hoodie.table.name", "graft_orders_mor")
        props.setProperty("hoodie.table.type", "MERGE_ON_READ")
        props.setProperty("hoodie.table.version", "6")
        props.setProperty("hoodie.datasource.write.partitionpath.field", "pt")
        val os = java.nio.file.Files.newOutputStream(
          root.resolve(".hoodie/hoodie.properties"))
        try props.store(os, "graft fixture") finally os.close()
        val c1 = "20240101000000"
        val c2 = "20240102000000"
        val orders = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
        val rels = (0 until 2).map { g =>
          val rel = s"pt=0/f-${g}_$c1.parquet"
          val dest = root.resolve(rel)
          stageSingleParquet(
            hudiMetaKeyed(orders.filter(col("o_orderkey") % 2 === g)), dest)
          (s"f-$g", rel, java.nio.file.Files.size(dest))
        }
        val logRel = s"pt=0/.f-0_$c1.log.1"
        java.nio.file.Files.write(root.resolve(logRel),
          hudiMorLogBytes(orders))
        def ws(fid: String, rel: String, sz: Long) =
          s"""{"fileId":"$fid","path":"$rel","fileSizeInBytes":$sz}"""
        java.nio.file.Files.write(root.resolve(s".hoodie/$c1.deltacommit"),
          s"""{"partitionToWriteStats":{"pt=0":[${
            rels.map(x => ws(x._1, x._2, x._3)).mkString(",")}]}}"""
            .getBytes("UTF-8"))
        java.nio.file.Files.write(root.resolve(s".hoodie/$c2.deltacommit"),
          s"""{"partitionToWriteStats":{"pt=0":[${
            ws("f-0", logRel,
              java.nio.file.Files.size(root.resolve(logRel)))}]}}"""
            .getBytes("UTF-8"))
        writeStageMarker(out, fp)
      }
      out
    }

  /** The Delta checkpoint oracle: every checkpoint layout (single,
    * multi-part, v2) must replay the same state.
    */
  private val deltaCheckpointOracleSql: String =
      s"""WITH vk AS (
        |  SELECT v, k
        |  FROM generate_series(0, 11) t(v), generate_series(0, 2) u(k)),
        |removed AS (
        |  SELECT v - 3 AS rv, v % 3 AS rk FROM generate_series(3, 11) t(v)),
        |live AS (
        |  SELECT v, k FROM vk
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM removed r WHERE r.rv = vk.v AND r.rk = vk.k))
        |SELECT * FROM (
        |  SELECT 'part-' || CAST(v AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |           || '.parquet' AS path,
        |         CAST(1000 + 137 * v + k AS BIGINT) AS size,
        |         CAST(CASE WHEN v > 9 THEN v ELSE 9 END AS BIGINT) AS version_added
        |  FROM live
        |  UNION ALL
        |  SELECT 'part-0-0.parquet', CAST(9999 AS BIGINT), CAST(10 AS BIGINT))
        |ORDER BY path""".stripMargin

  val queries: Seq[QuerySpec] = Seq(
    QuerySpec("q_delta_dv", run = { (s, dir) =>
        // Delta DELETION VECTORS: per-row tombstones as Roaring
        // bitmaps — the from-spec portable-RoaringBitmapArray walk
        // (both cookies, array/bitset/run containers, multi-bitmap
        // high keys) behind the file form's CRC-verified framing and
        // the inline form's Z85 decode; the library wrote the inner
        // bitmaps, our walk reads them, DuckDB replays the positions
        val dv = graft.ops.StorageOps.synthesizeDeltaDv(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        graft.ops.StorageOps.deltaDvPositions(dv)
          .select(col("id").as("doc_id"), col("pos"))
          .orderBy("doc_id", "pos")
      },
      // DV replay: the three synthesis arms as id arithmetic — base
      // positions, the 601-wide run, the two high-key (bitmap 2) rows
      oracle = _ =>
        s"""WITH base AS (
          |  SELECT doc_id, CAST(k * 3 + doc_id % 3 AS BIGINT) AS pos
          |  FROM documents, unnest(generate_series(0, doc_id % 17)) t(k)),
          |run AS (
          |  SELECT doc_id, CAST(p AS BIGINT) AS pos
          |  FROM documents, unnest(generate_series(5000, 5600)) t(p)
          |  WHERE doc_id % 5 = 0),
          |high AS (
          |  SELECT doc_id, CAST(4294967296 + 7 AS BIGINT) AS pos
          |  FROM documents WHERE doc_id % 4 = 0
          |  UNION ALL
          |  SELECT doc_id, CAST(4294967296 + 11 AS BIGINT) AS pos
          |  FROM documents WHERE doc_id % 4 = 0)
          |SELECT doc_id, pos
          |FROM (SELECT * FROM base UNION ALL SELECT * FROM run
          |      UNION ALL SELECT * FROM high)
          |ORDER BY doc_id, pos""".stripMargin),
    QuerySpec("q_puffin_meta", run = { (s, dir) =>
        // Iceberg PUFFIN container census — the statistics/DV file:
        // framing walk returns the footer JSON as a string; the
        // query layer parses with an EXPLICIT schema (the
        // JSON-sidecar discipline) and validates every blob span
        // against the file geometry in SQL
        import org.apache.spark.sql.types._
        val blobT = new StructType()
          .add("type", StringType).add("fields", ArrayType(IntegerType))
          .add("snapshot-id", LongType).add("sequence-number", LongType)
          .add("offset", LongType).add("length", LongType)
          .add("compression-codec", StringType)
          .add("properties", MapType(StringType, StringType))
        val schema = new StructType()
          .add("blobs", ArrayType(blobT))
          .add("properties", MapType(StringType, StringType))
        val media = graft.ops.StorageOps.synthesizePuffin(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        graft.ops.StorageOps.puffinFooters(media, "id", "content")
          .select(col("id").as("doc_id"), col("file_size"),
            col("footer_size"),
            from_json(col("footer_json"), schema).as("f"))
          .select(col("doc_id"), col("file_size"), col("footer_size"),
            posexplode(col("f.blobs")).as(Seq("blob_idx", "b")))
          .select(col("doc_id"), col("blob_idx").cast("long").as("blob_idx"),
            col("b.type").as("blob_type"),
            col("b").getField("snapshot-id").as("snapshot_id"),
            col("b").getField("sequence-number").as("sequence_number"),
            col("b").getField("compression-codec").as("codec"),
            col("b.properties")("referenced-data-file").as("ref_file"),
            col("b.properties")("cardinality").cast("long")
              .as("cardinality"),
            (col("b.offset") >= 4 && col("b.offset") + col("b.length") <=
              col("file_size") - col("footer_size") - 16).as("span_ok"))
          .orderBy("doc_id", "blob_idx")
      },
      // Puffin replay: blob roster is id arithmetic by synthesis —
      // blob 0 on even ids is the DV, odd-k theta blobs declare zstd;
      // span_ok proves every blob sits inside the file geometry
      oracle = _ =>
        s"""WITH n AS (SELECT doc_id, doc_id % 3 AS top FROM documents),
          |b AS (SELECT doc_id, unnest(generate_series(0, top)) AS k FROM n)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS blob_idx,
          |       CASE WHEN k = 0 AND doc_id % 2 = 0 THEN 'deletion-vector-v1'
          |            ELSE 'apache-datasketches-theta-v1' END AS blob_type,
          |       CAST(100 + doc_id AS BIGINT) AS snapshot_id,
          |       CAST(doc_id % 10 AS BIGINT) AS sequence_number,
          |       CASE WHEN k % 2 = 1 THEN 'zstd' END AS codec,
          |       CASE WHEN k = 0 AND doc_id % 2 = 0
          |            THEN 'data/part-' || CAST(doc_id AS VARCHAR) || '.parquet'
          |       END AS ref_file,
          |       CASE WHEN k = 0 AND doc_id % 2 = 0
          |            THEN CAST(doc_id % 11 + 1 +
          |                 CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
          |       END AS cardinality,
          |       true AS span_ok
          |FROM b ORDER BY doc_id, blob_idx""".stripMargin),
    QuerySpec("q_puffin_dv", run = { (s, dir) =>
        // Iceberg v3 DELETION VECTORS out of Puffin: DV blobs located
        // through the footer JSON, framed BE-length + D1D33964 magic
        // + CRC-verified portable RoaringBitmapArray (the wire format
        // v3 deliberately shares with Delta DVs — one decoder, two
        // lakes), cardinality cross-checked against the blob
        // metadata; DuckDB replays the positions from id arithmetic
        import org.apache.spark.sql.types._
        val blobT = new StructType()
          .add("type", StringType)
          .add("offset", LongType).add("length", LongType)
          .add("properties", MapType(StringType, StringType))
        val schema = new StructType().add("blobs", ArrayType(blobT))
        // persist the fixture: it is read TWICE (footer walk + the
        // content join below) — a real lake file is also staged once
        val media = graft.ops.DedupOps.registerPersist(
          graft.ops.StorageOps.synthesizePuffin(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id"))
        val dvBlobs = graft.ops.StorageOps
          .puffinFooters(media, "id", "content")
          .select(col("id"), from_json(col("footer_json"), schema).as("f"))
          .select(col("id"), explode(col("f.blobs")).as("b"))
          .filter(col("b.type") === "deletion-vector-v1")
          .select(col("id"), col("b.offset").as("offset"),
            col("b.length").as("length"),
            col("b.properties")("cardinality").cast("long")
              .as("cardinality"))
        // broadcast the DESCRIPTORS (KBs per file), stream the
        // content side — at lake scale the content is the big side
        // and must never build a hash relation
        graft.ops.StorageOps.puffinDvPositions(
            media.join(broadcast(dvBlobs), "id"))
          .select(col("id").as("doc_id"), col("pos"))
          .orderBy("doc_id", "pos")
      },
      // Puffin DV replay: the two synthesis arms as id arithmetic —
      // base positions on even ids, the high-key (second bitmap) row
      // on ids % 4 == 0
      oracle = _ =>
        s"""WITH base AS (
          |  SELECT doc_id, CAST(k * 5 + doc_id % 5 AS BIGINT) AS pos
          |  FROM documents, unnest(generate_series(0, doc_id % 11)) t(k)
          |  WHERE doc_id % 2 = 0),
          |high AS (
          |  SELECT doc_id, CAST(4294967296 + 3 AS BIGINT) AS pos
          |  FROM documents WHERE doc_id % 4 = 0)
          |SELECT doc_id, pos
          |FROM (SELECT * FROM base UNION ALL SELECT * FROM high)
          |ORDER BY doc_id, pos""".stripMargin),
    QuerySpec("q_iceberg_mor", run = { (s, dir) =>
        // the v2 MERGE-ON-READ apply step: data rows keyed by the
        // scan's own _metadata.file_path/row_index, position-delete
        // tuples (every doc_id % 7 == 0 row) broadcast anti-joined —
        // survivors are the rows a v2 table scan would return
        val data = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"))
        val deletes = data
          .filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("file_path"), col("pos"))
        graft.ops.StorageOps.applyPositionDeletes(data, deletes)
          .select(col("doc_id"))
          .orderBy("doc_id")
      },
      // MOR replay: deletes target doc_id % 7 == 0 rows by physical
      // position, so survivors are the complement — position plumbing
      // must be invisible
      oracle = _ =>
        s"""SELECT doc_id FROM documents
          |WHERE doc_id % 7 <> 0 ORDER BY doc_id""".stripMargin),
    QuerySpec("q_iceberg_mor_eq", run = { (s, dir) =>
        // v2 merge-on-read with BOTH delete kinds: position deletes
        // (doc_id % 7 == 0 rows by physical (file, pos)) and
        // EQUALITY deletes decoded from a real parquet
        // equality-delete file — its rows ARE the tuples over the
        // equality_ids columns: (lang='de', seq 3), (lang='fr',
        // seq 5) — applied sequence-aware: a data row (seq
        // 1 + doc_id % 4) drops only when its sequence is STRICTLY
        // below the delete's, so later-sequence de/fr rows SURVIVE
        // the earlier delete (the reinsert-after-delete case a
        // CDC-fed table depends on)
        val data = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"),
            col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"))
          .withColumn("data_seq", lit(1) + pmod(col("doc_id"), lit(4)))
        val posDeletes = data
          .filter(pmod(col("doc_id"), lit(7)) === 0)
          .select("file_path", "pos")
        val eqDeletes =
          s.read.parquet(s"${stageIcebergEqDeleteFile(s)}/eqdel")
        val afterPos =
          graft.ops.StorageOps.applyPositionDeletes(data, posDeletes)
        graft.ops.StorageOps.applyEqualityDeletes(
            afterPos, eqDeletes, Seq("lang"))
          .select(col("doc_id")).orderBy("doc_id")
      },
      // mixed-kind MOR replay: position deletes drop doc_id % 7 = 0;
      // an equality delete hits only data rows whose sequence
      // (1 + doc_id % 4) is STRICTLY below the delete's — the
      // later-sequence survivors are the spec's reinsert case
      oracle = _ =>
        s"""SELECT doc_id FROM documents
          |WHERE doc_id % 7 <> 0
          |  AND NOT (lang = 'de' AND 1 + doc_id % 4 < 3)
          |  AND NOT (lang = 'fr' AND 1 + doc_id % 4 < 5)
          |ORDER BY doc_id""".stripMargin),
    QuerySpec("q_iceberg_mor_dv", run = { (s, dir) =>
        // the v3 MERGE-ON-READ-with-DELETION-VECTORS scan path END
        // TO END — the splice of q_iceberg_manifest_dv (routing) and
        // q_puffin_dv (blob decode): manifest position-delete entries
        // (content = 1) name the Puffin file in file_path, the data
        // file in referenced_data_file, the blob span in
        // content_offset/content_size_in_bytes, and the DV
        // cardinality in record_count; the routed span decodes
        // through the framed-roaring walk WITHOUT reading the Puffin
        // footer (exactly why v3 put the span in the manifest), and
        // the positions broadcast-anti-join the data rows
        import s.implicits._
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val media = graft.ops.DedupOps.registerPersist(
          graft.ops.StorageOps.synthesizePuffin(docs, "doc_id"))
        val routes = MultimodalOps.icebergManifestEntries(
            MultimodalOps.synthesizeIcebergV3DvManifest(docs, "doc_id"))
          .toDF()
          .filter(col("content") === 1)
          .select(
            regexp_extract(col("filePath"), "dv-(\\d+)\\.puffin$", 1)
              .cast("long").as("id"),
            col("referencedDataFile").as("file_path"),
            col("contentOffset").as("offset"),
            col("contentSizeInBytes").as("length"),
            col("recordCount").as("cardinality"))
        // descriptors are manifest-sized (KBs) — broadcast them onto
        // the content side, never the reverse
        val deletes = graft.ops.StorageOps.puffinDvPositions(
            media.join(broadcast(routes), "id"))
          .join(broadcast(routes.select(col("id"), col("file_path"))), "id")
          .select(col("file_path"), col("pos"))
        val data = docs
          .filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"),
            explode(sequence(lit(0L), lit(59L))).as("pos"))
          .withColumn("file_path",
            concat(lit("data/part-"), col("doc_id"), lit(".parquet")))
        graft.ops.StorageOps.applyPositionDeletes(data, deletes)
          .select(col("doc_id"), col("pos"))
          .orderBy("doc_id", "pos")
      },
      // v3 MOR-DV end-to-end replay: even ids carry a DV whose
      // positions are k*5 + id%5 for k <= id%11 (the high key 2^32+3
      // on id%4==0 is outside the 60-row data files and drops
      // nothing); survivors are each file's 60 positions minus the DV
      oracle = _ =>
        s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
          |r AS (SELECT doc_id, CAST(p AS BIGINT) AS pos
          |      FROM d, unnest(generate_series(0, 59)) t(p)),
          |dv AS (SELECT doc_id, CAST(k * 5 + doc_id % 5 AS BIGINT) AS pos
          |       FROM d, unnest(generate_series(0, doc_id % 11)) t(k))
          |SELECT r.doc_id, r.pos FROM r
          |WHERE NOT EXISTS (SELECT 1 FROM dv
          |                  WHERE dv.doc_id = r.doc_id AND dv.pos = r.pos)
          |ORDER BY doc_id, pos""".stripMargin),
    QuerySpec("q_iceberg_manifest", run = { (s, dir) =>
        // Iceberg manifest census: the second open-lakehouse format
        // next to the Delta-log replay — manifest-entry record decode
        // (status / snapshot / path / format / rows / bytes) behind
        // the same sync-sealed Avro container walk, schema-DRIVEN
        val media = MultimodalOps.synthesizeIcebergManifest(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.icebergManifestEntries(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("status"), col("snapshotId").as("snapshot_id"),
            col("filePath").as("file_path"),
            col("fileFormat").as("file_format"),
            col("recordCount").as("record_count"),
            col("fileSizeInBytes").as("file_size_in_bytes"))
          .orderBy("doc_id", "entry_idx")
      },
      // Iceberg manifest replay: every entry field is id arithmetic by
      // synthesis (ns = 1 + id%3 entries; the k=0 entry of id%5==0 rows
      // exercises the null snapshot union branch → the -1 sentinel)
      oracle = _ =>
        s"""WITH e AS (
          |  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS k
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS entry_idx,
          |       CAST((doc_id + k) % 3 AS BIGINT) AS status,
          |       CAST(CASE WHEN k = 0 AND doc_id % 5 = 0 THEN -1
          |                 ELSE 3000 + doc_id END AS BIGINT) AS snapshot_id,
          |       'data/part-' || CAST(doc_id AS VARCHAR) || '-' ||
          |         CAST(k AS VARCHAR) || '.parquet' AS file_path,
          |       'PARQUET' AS file_format,
          |       CAST(100 + (doc_id + k) % 57 AS BIGINT) AS record_count,
          |       CAST(10000 + 137 * doc_id + k AS BIGINT) AS file_size_in_bytes
          |FROM e ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_iceberg_manifest_v2", run = { (s, dir) =>
        // v2 PRODUCTION-shaped manifests written by the Avro library
        // (partition structs, column stats, sequence numbers, delete
        // files): the schema-driven walk extracts its fields and
        // skips the rest by the embedded writer schema — the gate
        // that used to return None on any non-v1 schema is gone; the
        // fixture is STAGED once per source fingerprint so the pass
        // times the decode, not the container synthesis
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("status"), col("snapshotId").as("snapshot_id"),
            col("content"),
            col("filePath").as("file_path"),
            col("recordCount").as("record_count"),
            col("fileSizeInBytes").as("file_size_in_bytes"))
          .orderBy("doc_id", "entry_idx")
      },
      // v2 replay: same id arithmetic as v1 plus the content kind
      // ((doc_id + k) % 3 — data / position-delete / equality-delete)
      oracle = _ =>
        s"""WITH e AS (
          |  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS k
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS entry_idx,
          |       CAST((doc_id + k) % 3 AS BIGINT) AS status,
          |       CAST(CASE WHEN k = 0 AND doc_id % 5 = 0 THEN -1
          |                 ELSE 3000 + doc_id END AS BIGINT) AS snapshot_id,
          |       CAST((doc_id + k) % 3 AS BIGINT) AS content,
          |       'data/part-' || CAST(doc_id AS VARCHAR) || '-' ||
          |         CAST(k AS VARCHAR) || '.parquet' AS file_path,
          |       CAST(100 + (doc_id + k) % 57 AS BIGINT) AS record_count,
          |       CAST(10000 + 137 * doc_id + k AS BIGINT) AS file_size_in_bytes
          |FROM e ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_iceberg_manifest_stats", run = { (s, dir) =>
        // the manifest COLUMN-STATS pruning surface — what an
        // Iceberg planner skips whole data files with, the
        // manifest-level sibling of the parquet/ORC zone maps:
        // column_sizes/value_counts/lower_bounds kv-arrays decoded
        // per entry, keyed by field id (map_from_entries at the
        // query layer); bound bytes surface as hex, type
        // interpretation belongs to the planner that holds the
        // table schema
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            explode(col("columnSizes")).as("cs"),
            map_from_entries(col("valueCounts")).as("vcm"),
            map_from_entries(col("nullValueCounts")).as("nvm"),
            map_from_entries(col("lowerBounds")).as("lbm"),
            map_from_entries(col("upperBounds")).as("ubm"))
          .select(col("doc_id"), col("entry_idx"),
            col("cs.k").as("col_id"),
            col("cs.v").as("column_size"),
            element_at(col("vcm"), col("cs.k")).as("value_count"),
            element_at(col("nvm"), col("cs.k")).as("null_value_count"),
            element_at(col("lbm"), col("cs.k")).as("lower_bound_hex"),
            element_at(col("ubm"), col("cs.k")).as("upper_bound_hex"))
          .orderBy("doc_id", "entry_idx", "col_id")
      },
      // manifest column-stats replay: every entry carries c = 1..3
      // stats — sizes 1000c+id, counts 100+c, lower bound bytes
      // [c, id & 0x7f] hex — all id arithmetic by synthesis
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
          |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
          |cs AS (SELECT doc_id, k, unnest(generate_series(1, 3)) AS c FROM ks)
          |SELECT doc_id, CAST(k AS BIGINT) AS entry_idx,
          |       CAST(c AS BIGINT) AS col_id,
          |       CAST(1000 * c + doc_id AS BIGINT) AS column_size,
          |       CAST(100 + c AS BIGINT) AS value_count,
          |       CAST((doc_id + c) % 5 AS BIGINT) AS null_value_count,
          |       lower(lpad(to_hex(c), 2, '0') ||
          |         lpad(to_hex(doc_id & 127), 2, '0')) AS lower_bound_hex,
          |       lower(lpad(to_hex(c + 1), 2, '0') ||
          |         lpad(to_hex((doc_id * 3) & 127), 2, '0')) AS upper_bound_hex
          |FROM cs ORDER BY doc_id, entry_idx, col_id""".stripMargin),
    QuerySpec("q_iceberg_manifest_partition", run = { (s, dir) =>
        // the FIRST-level Iceberg prune: the per-entry partition
        // struct, decoded generically (specs differ per table) and
        // surfaced as a JSON object string — exact-string oracled,
        // key order included
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("partitionJson").as("partition_json"))
          .orderBy("doc_id", "entry_idx")
      },
      // partition replay: the synth writes {p_bucket: id % 16,
      // p_days: id % 365} on every entry — exact JSON string
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
          |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
          |SELECT doc_id, CAST(k AS BIGINT) AS entry_idx,
          |       '{"p_bucket":' || CAST(doc_id % 16 AS VARCHAR) ||
          |         ',"p_days":' || CAST(doc_id % 365 AS VARCHAR) || '}'
          |         AS partition_json
          |FROM ks ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_iceberg_manifest_dv", run = { (s, dir) =>
        // v3 DELETION-VECTOR routing: position-delete entries
        // (content = 1) carry referenced_data_file + the blob's
        // (offset, size) inside its Puffin file — exactly the
        // descriptor a v3 scan hands to the puffin DV decoder
        // (q_puffin_dv); data and equality entries decode the null
        // union branches
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .filter(col("content") === 1)
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("referencedDataFile").as("referenced_data_file"),
            col("contentOffset").as("content_offset"),
            col("contentSizeInBytes").as("content_size_in_bytes"))
          .orderBy("doc_id", "entry_idx")
      },
      // v3 DV-routing replay: entry k is a position delete when
      // (doc_id + k) % 3 = 1; its referenced file and blob span are
      // id arithmetic by synthesis
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
          |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
          |SELECT doc_id, CAST(k AS BIGINT) AS entry_idx,
          |       'data/part-' || CAST(doc_id AS VARCHAR) || '-' ||
          |         CAST(k AS VARCHAR) || '.parquet' AS referenced_data_file,
          |       CAST(4 + doc_id % 100 AS BIGINT) AS content_offset,
          |       CAST(20 + doc_id % 50 AS BIGINT) AS content_size_in_bytes
          |FROM ks WHERE (doc_id + k) % 3 = 1
          |ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_iceberg_manifest_eq", run = { (s, dir) =>
        // the equality-delete half of the v2 manifest decode: delete
        // entries (content = 2) surface the spec's equality_ids
        // column list (field-id 135) and the entry's data sequence
        // number — exactly what the MOR planner needs to route each
        // delete file into applyEqualityDeletes with the right
        // sequence cutoff; data and position-delete entries carry
        // the null union branch and must decode as empty
        val staged = stageIcebergManifestV2(s, dir)
        import s.implicits._
        val media = s.read.parquet(s"$staged/media")
          .as[graft.ops.MultimodalOps.MediaRecord]
        MultimodalOps.icebergManifestEntries(media).toDF()
          .filter(col("content") === 2)
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("sequenceNumber").as("sequence_number"),
            col("equalityIds").as("equality_ids"))
          .orderBy("doc_id", "entry_idx")
      },
      // v2 equality-delete manifest replay: entry k is a delete file
      // when (doc_id + k) % 3 = 2; its equality_ids list and sequence
      // number are id arithmetic by synthesis
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
          |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
          |SELECT doc_id, CAST(k AS BIGINT) AS entry_idx,
          |       CAST(7 + doc_id % 9 AS BIGINT) AS sequence_number,
          |       CAST(doc_id % 3 + 1 AS VARCHAR) || ',5' AS equality_ids
          |FROM ks WHERE (doc_id + k) % 3 = 2
          |ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_iceberg_manifest_list", run = { (s, dir) =>
        // Iceberg manifest-LIST census: the snapshot's index of
        // manifests (one level above q_iceberg_manifest) — the
        // added/existing/deleted counts a planner prunes whole
        // manifests with
        val media = MultimodalOps.synthesizeIcebergManifestList(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.icebergManifestList(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("manifestPath").as("manifest_path"),
            col("manifestLength").as("manifest_length"),
            col("partitionSpecId").as("partition_spec_id"),
            col("addedSnapshotId").as("added_snapshot_id"),
            col("addedFilesCount").as("added_files_count"),
            col("existingFilesCount").as("existing_files_count"),
            col("deletedFilesCount").as("deleted_files_count"))
          .orderBy("doc_id", "entry_idx")
      },
      // Iceberg manifest-list replay: 1 + id%4 entries, all fields id
      // arithmetic by synthesis
      oracle = _ =>
        s"""WITH e AS (
          |  SELECT doc_id, unnest(generate_series(0, doc_id % 4)) AS k
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS entry_idx,
          |       'meta/manifest-' || CAST(doc_id AS VARCHAR) || '-' ||
          |         CAST(k AS VARCHAR) || '.avro' AS manifest_path,
          |       CAST(5000 + 97 * doc_id + 13 * k AS BIGINT) AS manifest_length,
          |       CAST(doc_id % 3 AS BIGINT) AS partition_spec_id,
          |       CAST(3000 + doc_id AS BIGINT) AS added_snapshot_id,
          |       CAST(1 + (doc_id + k) % 9 AS BIGINT) AS added_files_count,
          |       CAST((doc_id + 2 * k) % 7 AS BIGINT) AS existing_files_count,
          |       CAST((doc_id + 3 * k) % 4 AS BIGINT) AS deleted_files_count
          |FROM e ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_iceberg_manifest_list_v2", run = { (s, dir) =>
        // v2 PRODUCTION-shaped manifest lists written by the Avro
        // library: content kind (data vs DELETES — how a planner
        // prunes whole delete manifests by sequence range), sequence
        // numbers, the renamed *_data_files_count generation, row
        // counts, partition summaries skipped by schema — the
        // exact-schema gate on the list level is gone
        val media = MultimodalOps.synthesizeIcebergManifestListV2(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.icebergManifestList(media).toDF()
          .select(col("id").as("doc_id"), col("entryIdx").as("entry_idx"),
            col("manifestPath").as("manifest_path"),
            col("manifestLength").as("manifest_length"),
            col("content"),
            col("sequenceNumber").as("sequence_number"),
            col("minSequenceNumber").as("min_sequence_number"),
            col("addedFilesCount").as("added_files_count"),
            col("existingFilesCount").as("existing_files_count"),
            col("deletedFilesCount").as("deleted_files_count"))
          .orderBy("doc_id", "entry_idx")
      },
      // v2 list replay: content kind, sequence range, and the renamed
      // count generation — all id arithmetic by synthesis
      oracle = _ =>
        s"""WITH e AS (
          |  SELECT doc_id, unnest(generate_series(0, doc_id % 4)) AS k
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS entry_idx,
          |       'meta/m2-' || CAST(doc_id AS VARCHAR) || '-' ||
          |         CAST(k AS VARCHAR) || '.avro' AS manifest_path,
          |       CAST(6000 + 89 * doc_id + 11 * k AS BIGINT) AS manifest_length,
          |       CAST((doc_id + k) % 2 AS BIGINT) AS content,
          |       CAST(10 + (doc_id + k) % 9 AS BIGINT) AS sequence_number,
          |       CAST(1 + (doc_id + k) % 5 AS BIGINT) AS min_sequence_number,
          |       CAST((doc_id + k) % 7 AS BIGINT) AS added_files_count,
          |       CAST((doc_id + 2 * k) % 5 AS BIGINT) AS existing_files_count,
          |       CAST((doc_id + 3 * k) % 3 AS BIGINT) AS deleted_files_count
          |FROM e ORDER BY doc_id, entry_idx""".stripMargin),
    QuerySpec("q_iceberg_table_state", run = { (s, dir) =>
        // the FULL Iceberg read chain in one call — the
        // deltaLogState sibling: metadata.json → current snapshot →
        // its manifest list → its manifests → live files (status !=
        // DELETED).  Non-current snapshots' lists/manifests are in
        // the fixture as DECOYS: the composition must follow the
        // pointer chain, not union everything it can decode.  The
        // two upper levels broadcast; only the manifest side streams
        val docs = s.read.parquet(s"$dir/documents.parquet")
        graft.ops.StorageOps.icebergTableState(
            graft.ops.StorageOps.synthesizeIcebergMetadata(docs, "doc_id"),
            MultimodalOps.synthesizeIcebergTableLists(docs, "doc_id"),
            MultimodalOps.synthesizeIcebergTableManifests(docs, "doc_id"))
          .select(col("id").as("doc_id"), col("manifest_path"),
            col("file_path"), col("record_count"),
            col("file_size_in_bytes"))
          .orderBy("doc_id", "manifest_path", "file_path")
      },
      // table-state replay: only the CURRENT snapshot (k = ns-1)
      // contributes; per manifest j, entry e is live when status
      // (doc_id+k+j+e) % 3 != 2 — all fields id arithmetic
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
          |base AS (SELECT doc_id, ns - 1 AS k FROM px),
          |js AS (
          |  SELECT doc_id, k,
          |         unnest(generate_series(0, (doc_id + k) % 2)) AS j
          |  FROM base),
          |es AS (
          |  SELECT doc_id, k, j,
          |         unnest(generate_series(0, (doc_id + j) % 3)) AS e
          |  FROM js)
          |SELECT doc_id,
          |       'mf-' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
          |         || '-' || CAST(j AS VARCHAR) || '.avro' AS manifest_path,
          |       'data/d-' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
          |         || '-' || CAST(j AS VARCHAR) || '-' || CAST(e AS VARCHAR)
          |         || '.parquet' AS file_path,
          |       CAST(100 + (doc_id + e) % 57 AS BIGINT) AS record_count,
          |       CAST(1000 + 53 * doc_id + 17 * k + 5 * j + e AS BIGINT)
          |         AS file_size_in_bytes
          |FROM es WHERE (doc_id + k + j + e) % 3 <> 2
          |ORDER BY doc_id, manifest_path, file_path""".stripMargin),
    QuerySpec("q_iceberg_time_travel", run = { (s, dir) =>
        // TIME TRAVEL through the same composition: replay each
        // table at its EARLIEST retained snapshot (per-table picks
        // broadcast) — the chain is identical, only the entry
        // pointer moves, and the current snapshot's manifests become
        // the decoys this time
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val meta = graft.ops.StorageOps.synthesizeIcebergMetadata(docs, "doc_id")
        val picks = graft.ops.StorageOps
          .icebergMetadata(meta, "id", "metadata_json")
          .groupBy(col("id")).agg(min(col("snapshot_id")).as("snapshot_id"))
        graft.ops.StorageOps.icebergTableState(
            meta,
            MultimodalOps.synthesizeIcebergTableLists(docs, "doc_id"),
            MultimodalOps.synthesizeIcebergTableManifests(docs, "doc_id"),
            Some(picks))
          .select(col("id").as("doc_id"), col("manifest_path"),
            col("file_path"), col("record_count"),
            col("file_size_in_bytes"))
          .orderBy("doc_id", "manifest_path", "file_path")
      },
      // time-travel replay: the EARLIEST snapshot is k = 0 — same
      // chain arithmetic as q_iceberg_table_state with the pointer
      // moved
      oracle = _ =>
        s"""WITH base AS (SELECT doc_id, 0 AS k FROM documents),
          |js AS (
          |  SELECT doc_id, k,
          |         unnest(generate_series(0, (doc_id + k) % 2)) AS j
          |  FROM base),
          |es AS (
          |  SELECT doc_id, k, j,
          |         unnest(generate_series(0, (doc_id + j) % 3)) AS e
          |  FROM js)
          |SELECT doc_id,
          |       'mf-' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
          |         || '-' || CAST(j AS VARCHAR) || '.avro' AS manifest_path,
          |       'data/d-' || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
          |         || '-' || CAST(j AS VARCHAR) || '-' || CAST(e AS VARCHAR)
          |         || '.parquet' AS file_path,
          |       CAST(100 + (doc_id + e) % 57 AS BIGINT) AS record_count,
          |       CAST(1000 + 53 * doc_id + 17 * k + 5 * j + e AS BIGINT)
          |         AS file_size_in_bytes
          |FROM es WHERE (doc_id + k + j + e) % 3 <> 2
          |ORDER BY doc_id, manifest_path, file_path""".stripMargin),
    QuerySpec("q_iceberg_metadata", run = { (s, dir) =>
        // the Iceberg chain's entry point: metadata.json parsed
        // schema-explicitly, one row per snapshot with the current
        // flag — above the manifest-list and manifest censuses
        val docs = s.read.parquet(s"$dir/documents.parquet")
        graft.ops.StorageOps.icebergMetadata(
            graft.ops.StorageOps.synthesizeIcebergMetadata(docs, "doc_id"),
            "id", "metadata_json")
          .select(col("id").as("doc_id"), col("format_version"),
            col("table_uuid"), col("snapshot_id"), col("timestamp_ms"),
            col("manifest_list"), col("operation"), col("is_current"))
          .orderBy("doc_id", "snapshot_id")
      },
      // Iceberg metadata replay: every snapshot row is id arithmetic;
      // the last snapshot is current; format version alternates 1/2
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
          |ks AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
          |SELECT doc_id,
          |       CAST(1 + doc_id % 2 AS BIGINT) AS format_version,
          |       't-' || CAST(doc_id AS VARCHAR) AS table_uuid,
          |       CAST(3000 + doc_id + k AS BIGINT) AS snapshot_id,
          |       CAST(1690000000000 + doc_id + k AS BIGINT) AS timestamp_ms,
          |       'ml-' || CAST(doc_id AS VARCHAR) || '-' ||
          |         CAST(k AS VARCHAR) || '.avro' AS manifest_list,
          |       CASE WHEN k = 0 THEN 'append' ELSE 'overwrite' END AS operation,
          |       CAST(k = ns - 1 AS BIGINT) AS is_current
          |FROM ks ORDER BY doc_id, snapshot_id""".stripMargin),
    QuerySpec("q_delta_log_state", run = { (s, dir) =>
        // lakehouse table-state reconstruction: replay a Delta-style
        // commit log (filename = version, last action per path wins)
        // into the live file set — no table-format library
        val staged = stageDeltaLog(dir)
        graft.ops.StorageOps.deltaLogState(s, staged)
          .orderBy("path")
      },
      // Delta-log replay: the staged commit log is corpus-independent by
      // design, so the live file set is closed-form arithmetic — adds
      // minus later removes, plus the v10 re-add that last-action-wins
      // must resurrect
      oracle = _ =>
        s"""WITH vk AS (
          |  SELECT v, k
          |  FROM generate_series(0, 11) t(v), generate_series(0, 2) u(k)),
          |removed AS (
          |  SELECT v - 3 AS rv, v % 3 AS rk FROM generate_series(3, 11) t(v)),
          |live AS (
          |  SELECT v, k FROM vk
          |  WHERE NOT EXISTS (
          |    SELECT 1 FROM removed r WHERE r.rv = vk.v AND r.rk = vk.k))
          |SELECT * FROM (
          |  SELECT 'part-' || CAST(v AS VARCHAR) || '-' || CAST(k AS VARCHAR)
          |           || '.parquet' AS path,
          |         CAST(1000 + 137 * v + k AS BIGINT) AS size,
          |         CAST(v AS BIGINT) AS version_added
          |  FROM live
          |  UNION ALL
          |  SELECT 'part-0-0.parquet', CAST(9999 AS BIGINT), CAST(10 AS BIGINT))
          |ORDER BY path""".stripMargin),
    QuerySpec("q_hudi_timeline_state", run = { (s, dir) =>
        // the third lakehouse format: Hudi timeline replay — latest
        // file slice per (partition, file group), replacecommits
        // killing the groups they cluster away
        val staged = stageHudiTimeline(dir)
        graft.ops.StorageOps.hudiTimelineState(s, staged)
          .orderBy("partition", "file_id")
      },
      oracle = _ =>
        s"""WITH w AS (
          |  SELECT t, k, (2 * t + k) % 12 AS id
          |  FROM generate_series(0, 9) s(t), generate_series(0, 1) u(k)
          |  WHERE t <> 8),
          |last AS (SELECT id, max(t) AS t FROM w GROUP BY id),
          |live AS (SELECT id, t FROM last WHERE id NOT IN (0, 1))
          |SELECT * FROM (
          |  SELECT 'pt=' || CAST(t % 2 AS VARCHAR) AS partition,
          |         'f-' || CAST(id AS VARCHAR) AS file_id,
          |         'pt=' || CAST(t % 2 AS VARCHAR) || '/f-' || CAST(id AS VARCHAR)
          |           || '_' || CAST(20240100 + t AS VARCHAR) || '.parquet' AS path,
          |         CAST(2000 + 61 * t + id % 2 AS BIGINT) AS size,
          |         CAST(20240100 + t AS BIGINT) AS instant_added
          |  FROM live
          |  UNION ALL
          |  SELECT 'pt=0', 'f-100', 'pt=0/f-100_20240108.parquet',
          |         CAST(9000 AS BIGINT), CAST(20240108 AS BIGINT)
          |  UNION ALL
          |  SELECT 'pt=0', 'f-101', 'pt=0/f-101_20240108.parquet',
          |         CAST(9001 AS BIGINT), CAST(20240108 AS BIGINT))
          |ORDER BY partition, file_id""".stripMargin),
    QuerySpec("q_hudi_archived_timeline", run = { (s, dir) =>
        // the long-history half of the timeline: archived instants as
        // HoodieLogFormat avro records — same wire walk as the MOR
        // delta logs, typed projection on top
        val arch = stageHudiArchive(dir)
        graft.ops.StorageOps.hudiArchivedTimeline(s, arch)
          .orderBy("commit_time")
      },
      // Hudi timeline replay: staged timeline is corpus-independent —
      // live slices are argmax-instant per file group (k = id % 2 since
      // 2t is even), minus the clustering-replaced f-0/f-1, plus the
      // replacecommit's own writes
      oracle = _ =>
        s"""SELECT CAST(20231201000000 + t AS VARCHAR) AS commit_time,
          |       CASE t % 3 WHEN 0 THEN 'commit'
          |            WHEN 1 THEN 'deltacommit'
          |            ELSE 'clean' END AS action_type
          |FROM generate_series(0, 29) s(t)
          |ORDER BY commit_time""".stripMargin),
    QuerySpec("q_hudi_incremental", run = { (s, dir) =>
        // Hudi's signature read path: rows committed after c1 — file
        // pruning from the timeline (only the c2-rewritten slice is
        // scanned), then the _hoodie_commit_time row filter drops the
        // carried-forward rows a partial rewrite would copy
        val root = stageHudiCowTable(s, dir)
        graft.ops.StorageOps.hudiIncremental(s, root, "20240101000000")
          .orderBy("o_orderkey")
      },
      oracle = _ =>
        s"""SELECT '20240102000000' AS _hoodie_commit_time,
          |       CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
          |       'pt=0' AS _hoodie_partition_path,
          |       o_orderkey, o_custkey,
          |       o_totalprice + 1.5 AS o_totalprice,
          |       o_orderpriority
          |FROM orders WHERE o_orderkey % 4 = 1""".stripMargin),
    QuerySpec("q_hudi_read_optimized", run = { (s, dir) =>
        // the MOR base-only path: log deltas deliberately skipped —
        // the snapshot's updates/deletes/resurrections must all be
        // ABSENT (staleness bounded by compaction is the contract)
        val root = stageHudiMorTable(s, dir)
        graft.ops.StorageOps.hudiReadOptimized(s, root)
          .orderBy("o_orderkey")
      },
      oracle = _ =>
        s"""SELECT CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
          |       o_orderkey, o_custkey, o_totalprice, o_orderpriority
          |FROM orders""".stripMargin),
    QuerySpec("q_hudi_cow_snapshot", run = { (s, dir) =>
        // the Hudi TABLE-level read: properties gate (COPY_ON_WRITE)
        // → timeline replay to live slices → scan exactly those base
        // files; commit 2's rewrite of file group f-1 must shadow
        // commit 1's file — the third lakehouse format at the same
        // state-composition depth as Delta and Iceberg
        val root = stageHudiCowTable(s, dir)
        graft.ops.StorageOps.hudiCowSnapshot(s, root)
          .orderBy("o_orderkey")
      },
      oracle = _ =>
        s"""SELECT CASE WHEN o_orderkey % 4 = 1 THEN '20240102000000'
          |            ELSE '20240101000000' END AS _hoodie_commit_time,
          |       CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
          |       'pt=' || CAST(CASE WHEN o_orderkey % 4 < 2 THEN 0 ELSE 1 END
          |                     AS VARCHAR) AS _hoodie_partition_path,
          |       o_orderkey, o_custkey,
          |       CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice + 1.5
          |            ELSE o_totalprice END AS o_totalprice,
          |       o_orderpriority
          |FROM orders""".stripMargin),
    QuerySpec("q_hudi_log_blocks", run = { (s, dir) =>
        // MOR delta-side census: one row per HoodieLogFormat block —
        // type, instant, record count, rollback fencing — decoded by
        // the from-spec byte walk (magic, BE sizes, ordinal header
        // maps, sized avro-binary records); what compaction planning
        // reads.  Block 2 is the c4 poison write, block 3 the
        // :command rollback that fences it — rolled_back pins the
        // marking
        val slice = stageHudiMorSlice(s, dir)
        graft.ops.StorageOps.hudiLogBlocks(s, Seq(s"$slice/logs"))
          .select(col("block_seq"), col("block_type"),
            col("format_version"), col("instant"),
            col("target_instant"), col("header_n"),
            col("record_count"),
            col("rolled_back").cast("long").as("rolled_back"))
          .orderBy("block_seq")
      },
      oracle = _ =>
        s"""SELECT * FROM (VALUES
          |  (CAST(0 AS BIGINT), 'avro', CAST(1 AS BIGINT),
          |   '20240102000000', '', CAST(2 AS BIGINT),
          |   (SELECT CAST(count(*) AS BIGINT) FROM orders
          |    WHERE o_orderkey % 12 = 0), CAST(0 AS BIGINT)),
          |  (CAST(1 AS BIGINT), ':delete', CAST(1 AS BIGINT),
          |   '20240103000000', '', CAST(2 AS BIGINT),
          |   (SELECT CAST(count(*) AS BIGINT) FROM orders
          |    WHERE o_orderkey % 20 = 0), CAST(0 AS BIGINT)),
          |  (CAST(2 AS BIGINT), 'avro', CAST(1 AS BIGINT),
          |   '20240104000000', '', CAST(2 AS BIGINT),
          |   (SELECT CAST(count(*) AS BIGINT) FROM orders
          |    WHERE o_orderkey % 8 = 0), CAST(1 AS BIGINT)),
          |  (CAST(3 AS BIGINT), ':command', CAST(1 AS BIGINT),
          |   '20240105000000', '20240104000000', CAST(3 AS BIGINT),
          |   CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
          |  (CAST(4 AS BIGINT), 'parquet', CAST(1 AS BIGINT),
          |   '20240106000000', '', CAST(1 AS BIGINT),
          |   (SELECT CAST(count(*) AS BIGINT) FROM orders
          |    WHERE o_orderkey % 16 = 0), CAST(0 AS BIGINT)))
          |  t(block_seq, block_type, format_version, instant,
          |    target_instant, header_n, record_count, rolled_back)""".stripMargin),
    QuerySpec("q_hudi_file_slices", run = { (s, dir) =>
        // the MOR read-planning surface itself: latest base per file
        // group + logs at-or-after it, from the deltacommit timeline
        val root = stageHudiMorTable(s, dir)
        graft.ops.StorageOps.hudiFileSlices(s, s"$root/.hoodie")
          .select(col("partition"), col("file_id"), col("kind"),
            col("path"), col("instant"))
          .orderBy("file_id", "kind")
      },
      oracle = _ =>
        s"""SELECT * FROM (VALUES
          |  ('pt=0', 'f-0', 'base', 'pt=0/f-0_20240101000000.parquet',
          |   CAST(20240101000000 AS BIGINT)),
          |  ('pt=0', 'f-0', 'log', 'pt=0/.f-0_20240101000000.log.1',
          |   CAST(20240102000000 AS BIGINT)),
          |  ('pt=0', 'f-1', 'base', 'pt=0/f-1_20240101000000.parquet',
          |   CAST(20240101000000 AS BIGINT)))
          |  t(partition, file_id, kind, path, instant)""".stripMargin),
    QuerySpec("q_hudi_mor_snapshot", run = { (s, dir) =>
        // the FULL MOR table read: properties gate (MERGE_ON_READ) ->
        // deltacommit timeline -> file slices -> one merged read over
        // all slices; f-0 merges its five-block log (updates, deletes,
        // rolled-back poison), f-1 passes through base-only
        val root = stageHudiMorTable(s, dir)
        graft.ops.StorageOps.hudiMorSnapshot(s, root)
          .orderBy("o_orderkey")
      },
      oracle = _ =>
        s"""SELECT CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
          |       o_orderkey, o_custkey,
          |       CASE WHEN o_orderkey % 16 = 0 THEN o_totalprice * 3
          |            WHEN o_orderkey % 12 = 0 THEN o_totalprice * 2
          |            ELSE o_totalprice END AS o_totalprice,
          |       o_orderpriority
          |FROM orders
          |WHERE o_orderkey % 2 = 1
          |   OR (o_orderkey % 2 = 0
          |       AND (o_orderkey % 20 <> 0 OR o_orderkey % 16 = 0))""".stripMargin),
    QuerySpec("q_hudi_mor_read", run = { (s, dir) =>
        // the MERGE_ON_READ snapshot: base file ⟕ broadcast(latest
        // log action per key) — c2's avro block doubles %12 keys'
        // price, c3's delete block drops %20 keys, %60 keys pin
        // update-then-delete ordering; the base scan never shuffles
        val slice = stageHudiMorSlice(s, dir)
        graft.ops.StorageOps.hudiMorRead(
            s, Seq(s"$slice/base"), Seq(s"$slice/logs"))
          .orderBy("o_orderkey")
      },
      oracle = _ =>
        s"""SELECT CAST(o_orderkey AS VARCHAR) AS _hoodie_record_key,
          |       o_orderkey, o_custkey,
          |       CASE WHEN o_orderkey % 16 = 0 THEN o_totalprice * 3
          |            WHEN o_orderkey % 12 = 0 THEN o_totalprice * 2
          |            ELSE o_totalprice END AS o_totalprice,
          |       o_orderpriority
          |FROM orders
          |WHERE o_orderkey % 4 = 0
          |  AND (o_orderkey % 20 <> 0 OR o_orderkey % 16 = 0)""".stripMargin),
    QuerySpec("q_delta_checkpoint_state", run = { (s, dir) =>
        // the 10^6-commit path: state from the checkpoint parquet +
        // only the commits AFTER it — same live set as the full
        // replay, with version_added clamped to the checkpoint for
        // files that entered through it (the protocol's own loss)
        val staged = stageDeltaLogCheckpointed(s, dir)
        graft.ops.StorageOps.deltaLogStateFromCheckpoint(s, staged)
          .orderBy("path")
      },
      // checkpoint replay: the SAME live set as q_delta_log_state, with
      // version_added clamped to the checkpoint (9) for files that
      // entered via the checkpoint — post-checkpoint adds stay exact
      oracle = _ => deltaCheckpointOracleSql),
    QuerySpec("q_delta_checkpoint_multipart", run = { (s, dir) =>
        // the protocol's large-table checkpoint LAYOUT: the same
        // state split across V.checkpoint.i-of-N.parquet parts named
        // by `parts` in _last_checkpoint — same live set, same
        // oracle as the single-file flavor (two layouts, one answer)
        val staged = stageDeltaLogCheckpointedMultipart(s, dir)
        graft.ops.StorageOps.deltaLogStateFromCheckpoint(s, staged)
          .orderBy("path")
      },
      // multi-part checkpoint: same table, same state — the layout
      // split must be invisible, so the oracle is IDENTICAL
      oracle = _ => deltaCheckpointOracleSql),
    QuerySpec("q_delta_checkpoint_v2", run = { (s, dir) =>
        // the v2 (UUID-named) checkpoint LAYOUT: tombstones + sidecar
        // actions in the top file, adds in _sidecars/ files — the
        // THIRD physical layout onto the same oracle (single-file,
        // multi-part, v2: one answer)
        val staged = stageDeltaLogCheckpointedV2(s, dir)
        graft.ops.StorageOps.deltaLogStateFromCheckpoint(s, staged)
          .orderBy("path")
      },
          // v2 checkpoint: same table, same state — the third layout,
      // the same IDENTICAL oracle
      oracle = _ => deltaCheckpointOracleSql),
    QuerySpec("q_hudi_properties", run = { (s, dir) =>
        // the Hudi ENTRY POINT: .hoodie/hoodie.properties — table
        // identity, type (which read path applies), version,
        // partition fields — parsed with the JDK Properties loader
        // (the format IS java.util.Properties); completes the
        // three-format entry-point trio next to icebergMetadata and
        // the Delta protocol/checkpoint reads
        val root = stageHudiTableRoot(dir)
        graft.ops.StorageOps.hudiTableProperties(s, root)
          .orderBy("key")
      },
      // properties replay: the staged fixture's six keys verbatim
      oracle = _ =>
        s"""SELECT * FROM (VALUES
          |  ('hoodie.datasource.write.partitionpath.field', 'pt'),
          |  ('hoodie.table.keygenerator.class',
          |   'org.apache.hudi.keygen.SimpleKeyGenerator'),
          |  ('hoodie.table.name', 'graft_events'),
          |  ('hoodie.table.type', 'COPY_ON_WRITE'),
          |  ('hoodie.table.version', '6'),
          |  ('hoodie.timeline.layout.version', '1')) t(key, value)
          |ORDER BY key""".stripMargin),
    QuerySpec("q_delta_vacuum", run = { (s, dir) =>
        // the tombstone set — what vacuum deletes after retention:
        // paths whose latest action is a remove, with the removing
        // version; the v10 resurrection of part-0-0 must keep it
        // OUT of the candidates (re-add beats its older tombstone)
        val staged = stageDeltaLog(dir)
        graft.ops.StorageOps.deltaTombstones(s, staged)
          .orderBy("path")
      },
      // vacuum replay: tombstones are the removed (v-3, v%3) pairs
      // minus the v10-resurrected part-0-0
      oracle = _ =>
        s"""WITH removed AS (
          |  SELECT v - 3 AS rv, v % 3 AS rk, v FROM generate_series(3, 11) t(v))
          |SELECT 'part-' || CAST(rv AS VARCHAR) || '-' || CAST(rk AS VARCHAR)
          |         || '.parquet' AS path,
          |       CAST(v AS BIGINT) AS version_removed
          |FROM removed
          |WHERE NOT (rv = 0 AND rk = 0)
          |ORDER BY path""".stripMargin),
    QuerySpec("q_delta_column_mapping", run = { (s, dir) =>
        // COLUMN-MAPPED per-file stats census: the staged log's
        // metaData sets delta.columnMapping.mode=name, so add-action
        // stats are keyed by physical col-<id> names — the census
        // must translate them to logical names via the schema's
        // physicalName metadata, over the LIVE file set only (v4
        // removes f-1); protocol v3 + columnMapping feature passes
        // the reader gate
        val staged = stageDeltaLogMapped(dir)
        graft.ops.StorageOps.deltaFileStats(s, staged)
          .withColumnRenamed("column", "col_name")
          .orderBy("path", "col_name")
      },
      // column-mapping replay: live files f-2..f-5 (v4 removed f-1),
      // stats arithmetic by version, physical col-* keys translated to
      // the logical doc_id/lang names
      oracle = _ =>
        s"""WITH live AS (SELECT unnest(generate_series(2, 5)) AS v),
          |c AS (SELECT * FROM (VALUES ('doc_id'), ('lang')) t(col_name))
          |SELECT 'f-' || CAST(v AS VARCHAR) || '.parquet' AS path,
          |       col_name,
          |       CASE col_name WHEN 'doc_id' THEN CAST(v * 10 AS VARCHAR)
          |            ELSE 'a' || CAST(v AS VARCHAR) END AS min_v,
          |       CASE col_name WHEN 'doc_id' THEN CAST(v * 10 + 9 AS VARCHAR)
          |            ELSE 'z' || CAST(v AS VARCHAR) END AS max_v,
          |       CAST(CASE col_name WHEN 'doc_id' THEN 0 ELSE v END
          |            AS BIGINT) AS null_count,
          |       CAST(100 + v AS BIGINT) AS num_records
          |FROM live, c
          |ORDER BY path, col_name""".stripMargin),
    QuerySpec("q_delta_partition_values", run = { (s, dir) =>
        // the FIRST-level Delta prune: per-live-file partition
        // values from the add actions, with the physical
        // partitionValues keys (mode=name) translated back to the
        // logical column name — the same mapped log as
        // q_delta_column_mapping
        val staged = stageDeltaLogMapped(dir)
        graft.ops.StorageOps.deltaPartitionValues(s, staged)
          .withColumnRenamed("column", "col_name")
          .orderBy("path", "col_name")
      },
      // partition-values replay: live files f-2..f-5, one partition
      // column (lang, translated from its physical key), value p(v%2)
      oracle = _ =>
        s"""WITH live AS (SELECT unnest(generate_series(2, 5)) AS v)
          |SELECT 'f-' || CAST(v AS VARCHAR) || '.parquet' AS path,
          |       'lang' AS col_name,
          |       'p' || CAST(v % 2 AS VARCHAR) AS value
          |FROM live ORDER BY path, col_name""".stripMargin))
}
