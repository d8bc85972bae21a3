package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** CONTENTION.md's protocol, promoted into the harness: a pass that
    * starts while the host 1-minute loadavg exceeds the host's CPU
    * count ([[hostCpus]]) ran on a contended machine — its wall time
    * indicts the HOST, not the code.  The flag rides on every per-query
    * record so a future round's regression triage self-diagnoses (the
    * r9 356 s false alarm took a manual replay to disprove).
    */
  private[graft] def contended(loadavgs: Seq[Double], cores: Int): Boolean =
    loadavgs.exists(_ > cores.toDouble)

  /** Steal-time contention (r19): this sandbox is a VM, and the
    * PHYSICAL host's load is invisible to loadavg — r18's 13 false
    * "regressed" rows all rode neighbor-VM steal that the loadavg
    * flag could not see (/proc/stat's cumulative steal on this box:
    * hours).  A pass that lost more than this fraction of its CPU
    * time to the hypervisor ran on a contended physical host.
    */
  private[graft] def stealContended(stealPcts: Seq[Double]): Boolean =
    stealPcts.exists(_ > 0.05)

  private def procStat(): Seq[String] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().toVector finally src.close()
  }

  /** Cumulative steal jiffies across all cpus (USER_HZ = 100), -1 on
    * read failure.
    */
  private[graft] def stealJiffies(): Long = scala.util.Try {
    val line = procStat().find(_.startsWith("cpu ")).get
    line.trim.split("\\s+")(8).toLong // cpu user nice sys idle iowait irq softirq STEAL
  }.getOrElse(-1L)

  /** The per-CPU `cpuN` lines of /proc/stat: the CPUs whose steal the
    * aggregate `cpu` line sums, and whose run queues loadavg counts.
    */
  private[graft] def procStatCpus(lines: Seq[String]): Int =
    lines.count(l => l.length > 3 && l.startsWith("cpu") && l.charAt(3).isDigit)

  /** The host's CPU count from /proc/stat, else the JVM's view.
    * `availableProcessors` is cgroup-aware, so in a CPU-limited
    * container it undercounts the CPUs /proc/stat and loadavg see.
    */
  private[graft] def hostCpus(): Int =
    scala.util.Try(procStatCpus(procStat())).toOption.filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Fraction of a pass's host CPU time stolen by the hypervisor, from
    * the steal jiffies around it (USER_HZ = 100); -1 when either read
    * failed or the pass took no time.
    */
  private[graft] def stealFraction(st0: Long, st1: Long, seconds: Double, cpus: Int): Double =
    if (st0 < 0 || st1 < 0 || seconds <= 0) -1.0
    else (st1 - st0) / (cpus * seconds * 100.0)

  /** The longest prefix of `names` (slowest first) whose JSON string
    * list fits in `window` characters.  It stops at the first name
    * that does not fit, so a shown name is never slower-ranked than
    * an omitted one.
    */
  private[graft] def namesThatFit(names: Seq[String], window: Int): List[String] = {
    var len = 2 // the brackets
    names.iterator.takeWhile { k =>
      len += k.length + 3 // quotes and comma
      len <= window
    }.map("\"" + _ + "\"").toList
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Steady-state measurement: run every query once on the tiny SF
    // first (untimed) so whole-stage-codegen compilation + JIT of the
    // generated classes is paid before the clock starts — that cost is
    // a per-plan constant (7s+ for the wide dedup plans) that a long
    // cluster job amortizes to nothing, and the plan shapes are
    // identical across SFs so the codegen cache hits.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // canonical-path compare: a trailing slash or symlink alias of the
    // benchmark SF must still skip the warmup (ADVICE r02)
    def canon(p: String) = new java.io.File(p).getCanonicalPath
    // dev knob: comma-separated query-name filter for targeted profiling
    // (unset = the full suite; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    // The two composed end-to-end chains re-run member stages that are
    // each benched individually, so their medians overlap stage costs —
    // but a tracked e2e wall-time is the number a user quotes, so they
    // are TIMED like everything else since r11 (they were excluded
    // r7-r10); read their rows as "whole pipeline", not a new stage.
    val benchExclude = Set.empty[String]
    if (canon(warmDir) != canon(sfDir)) {
      SparkEntry.queries.foreach { q =>
        if (!benchExclude.contains(q.name) && only.forall(_.contains(q.name)))
          try { q.run(spark, warmDir).count() }
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup ${q.name}: ${e.getMessage}")
          }
      }
      // drop the small-SF cached data so every timed query reads its
      // inputs cold — only code/JIT warm-up carries over
      spark.catalog.clearCache()
    }
    // Median of RUNS timed passes per query: single-pass numbers at
    // local[32] carry GC / run-order noise that made per-query deltas
    // unactionable across rounds (VERDICT r02).  Dedup persists are
    // released between passes so no run reads a predecessor's cache.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // per-run GC attribution: a query median that is slow ONLY on a
    // loaded host (driver-run outliers, VERDICT r03) shows up as wall
    // time >> cpu-proportional GC — gcMs pins whether the JVM itself
    // was collecting or the host was contended
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }
    var failed = List.empty[String]
    val benchQueries = SparkEntry.queries
      .filter(q => !benchExclude.contains(q.name) && only.forall(_.contains(q.name)))
    // one-time-build queries: materialize the store/table at the
    // benchmark SF untimed (BuildOnce memoizes it), so all timed
    // passes — including the first — measure only the probe
    benchQueries.filter(_.oneTimeBuild).foreach { q =>
      try { q.run(spark, sfDir).count() }
      catch { case e: Throwable =>
        System.err.println(s"[bench] setup ${q.name}: ${e.getMessage}")
      }
      graft.ops.DedupOps.unpersistAll()
    }
    // host-contention attribution companion to gcMs: the 1-minute
    // loadavg at the start of each timed run — a slow run with flat GC
    // AND loadavg >> this JVM's own core use marks external contention
    // (the VERDICT r09 false "regression")
    def loadavg(): Double = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    ).getOrElse(-1.0)
    // Passes interleave ROUND-ROBIN across queries (pass 1 of every
    // query, then pass 2, ...): a contention window spanning minutes
    // then inflates one pass of MANY queries — which median-of-3 per
    // query rejects — instead of all passes of whichever queries were
    // running, which no per-query statistic can repair (VERDICT r09).
    val acc = collection.mutable.Map.empty[String, Vector[(Double, Long, Double, Double)]]
      .withDefaultValue(Vector.empty)
    val hostCores = hostCpus()
    for (_ <- 1 to runs; q <- benchQueries) {
      val name = q.name
      val la = loadavg()
      val g0 = gcMs()
      val st0 = stealJiffies()
      val t0 = System.nanoTime()
      try { q.run(spark, sfDir).count() }
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed ::= name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val st1 = stealJiffies()
      val stealPct = stealFraction(st0, st1, dt, hostCores)
      graft.ops.DedupOps.unpersistAll()
      acc(name) = acc(name) :+ ((dt, gcMs() - g0, la, stealPct))
    }
    val results: Seq[(String, Vector[(Double, Long, Double, Double)])] =
      benchQueries.map(q => q.name -> acc(q.name))
    def median(ts: Vector[Double]): Double = {
      val s = ts.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // The driver captures only the LAST ~2000 chars of the log (minus
    // ~75 chars of trailing sbt epilogue), and 92+ query medians no
    // longer fit that window — r07's line was front-truncated straight
    // to parsed:null.  So the stdout line self-limits: slowest queries
    // first, greedily added while the line fits a 1800-char budget,
    // with an explicit omitted-count; the durable file always carries
    // every query (medians + all runs + GC attribution).
    def isContended(ts: Vector[(Double, Long, Double, Double)]): Boolean =
      contended(ts.map(_._3), hostCores) || stealContended(ts.map(_._4))
    val qsFull = results.map { case (k, ts) =>
      val all = ts.map(t => f"${t._1}%.4f").mkString("[", ",", "]")
      val gc = ts.map(_._2).mkString("[", ",", "]")
      val la = ts.map(t => f"${t._3}%.2f").mkString("[", ",", "]")
      val steal = ts.map(t => f"${t._4}%.4f").mkString("[", ",", "]")
      // min rides along: under contention the median is still inflated
      // when 2 of 3 passes were hit; the min is the cleanest observed
      // run and the honest lower bound for cross-round comparison
      s""""$k":{"median":${median(ts.map(_._1))},"min":${ts.map(_._1).min},"runs":${ts.length},"all":$all,"gc_ms":$gc,"loadavg":$la,"steal":$steal,"contended":${isContended(ts)}}"""
    }.mkString("{", ",", "}")
    val total = results.map { case (_, ts) => median(ts.map(_._1)) }.sum
    val totalMin = results.map { case (_, ts) => ts.map(_._1).min }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-stage attribution for the e2e chains: ONE instrumented run
    // each, after the timed passes (the medians above are untouched) —
    // the durable record carries stage → seconds so the e2e wall-time
    // is attributable to the stage that grew
    val stagesJson = benchQueries
      .flatMap(q => q.stages.map(q.name -> _))
      .flatMap { case (name, fn) =>
        try {
          val secs = fn(spark, sfDir)
          graft.ops.DedupOps.unpersistAll()
          val inner = secs.map { case (st, s) => f""""$st":$s%.4f""" }
            .mkString("{", ",", "}")
          Some(s""""$name":$inner""")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] staged $name: ${e.getMessage}")
          None
        }
      }.mkString("{", ",", "}")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_out.json")
    // per-query contention flags, promoted from the durable file into
    // the one-line JSON (VERDICT r18 ask #2): a PERF comparison can
    // separate host smear from real regression without replaying the
    // board — r18 burned 13 false "regressed" rows on exactly this
    // slowest-first and capped like the queries slice, so a fully
    // contended host (291 flagged names ≈ 5 KB) cannot push the line
    // past the driver's capture window; the durable file still carries
    // every flag
    val contendedAll = results
      .collect { case (k, ts) if isContended(ts) =>
        k -> median(ts.map(_._1)) }
      .sortBy(-_._2).map(_._1)
    val contendedShown = namesThatFit(contendedAll, 400)
    val contendedJson = contendedShown.mkString("[", ",", "]")
    val contendedOmitted = contendedAll.length - contendedShown.length
    def wrap(qs: String, omitted: Int) =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","total_min":$totalMin%.4f,"queries":$qs,"queries_omitted":$omitted,"contended":$contendedJson,"contended_omitted":$contendedOmitted,"stages":$stagesJson,"full":"$outPath","failed":$failedJson,"sf":"$sfDir"}"""
    val bySlowest = results
      .map { case (k, ts) => k -> median(ts.map(_._1)) }
      .sortBy(-_._2)
    val budget = 1800
    val entries = scala.collection.mutable.ListBuffer.empty[String]
    bySlowest.foreach { case (k, m) =>
      val cand = (entries :+ f""""$k":$m%.4f""").mkString("{", ",", "}")
      // measure against the WORST-CASE omitted digits, so the emitted
      // line (with the real, smaller count) can never exceed budget
      if (wrap(cand, bySlowest.length).length <= budget)
        entries += f""""$k":$m%.4f"""
    }
    val compactLine =
      wrap(entries.mkString("{", ",", "}"), bySlowest.length - entries.length)
    // durable full-detail copy first, so a crash printing can't lose it;
    // path is env-overridable and cwd-relative by default, and a failed
    // write must not fail the bench (ADVICE r04)
    scala.util.Try {
      val p = java.nio.file.Paths.get(outPath).toAbsolutePath
      java.nio.file.Files.writeString(p, wrap(qsFull, 0) + "\n")
      // log the RESOLVED path: the default is cwd-relative, so a bench
      // launched elsewhere must say where the durable copy went (ADVICE r05)
      System.err.println(s"[bench] durable copy: $p")
    }.failed.foreach(e => System.err.println(s"[bench] durable write: $e"))
    println(compactLine)
    spark.stop()
  }
}
