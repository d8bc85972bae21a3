package graft.perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Kernels, WoeConfig}
import graft.ops.StreamingWoe
import graft.spark.{WoeBinning, WoeBinningModel, WoeFitOptions}
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The outcome of one op: its wall time (the user path only; checks and
  * clean-up are outside it), whether its output check passed, raw
  * per-op values the traced run turns into per-layer metrics, and the
  * CPU seconds the whole process spent on it (set by the caller).
  */
final case class OpOutcome(wallS: Double, ok: Boolean, detail: String,
    values: Map[String, Any] = Map.empty, cpuS: Double = 0.0)

/** One benchmark workload.  Its constructor is the workload's set-up
  * (reading inputs, and the model fit for score_batch).
  */
trait Workload {
  /** Untimed ops run before measuring, until op times have settled. */
  def warmups: Int
  /** One op through the public MOB API, untraced. */
  def run(): OpOutcome
  /** The same op, decomposed into spans at the repo's layer boundaries. */
  def traced(tr: Tracer): OpOutcome
}

object MobBench {
  val Target = "target"
  val Features: Seq[String] =
    Seq("amt", "mid", "low").flatMap(t => (1 to 4).map(i => s"${t}_$i"))

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Timed run of `f`; returns (seconds, result). */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    (secondsSince(t0), r)
  }

  /** Bit-exact digest of a model's bins (every field, every variable). */
  def digest(m: WoeBinningModel): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(d: Double): Unit = {
      buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(d))
      md.update(buf.array())
    }
    m.fitted.foreach { case (v, bs) =>
      md.update(v.getBytes(UTF_8))
      bs.foreach { b =>
        Seq(b.intervalStartInclude, b.intervalEndExclude, b.size, b.mean,
          b.bads, b.goods, b.distGood, b.distBad, b.woe, b.ivComponents)
          .foreach(put)
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** MOB invariants of one fitted model over `rows` input rows; returns
    * the violations (empty when the model is sound).
    *
    * Bin sizes may sum to MORE than the row count: on an exact p-value
    * tie the reference's phase-2 merge absorbs a successor's stats into
    * every tied row but drops the successor only once (binning.py:219-224),
    * and Kernels.significanceMerge keeps that quirk for parity.  A sum
    * below the row count means rows were lost, which no path allows.
    */
  def invariantViolations(m: WoeBinningModel, rows: Long): Seq[String] =
    m.fitted.flatMap { case (v, bs) =>
      val size = bs.map(_.size).sum
      val woes = bs.filter(Kernels.isCompleteRow).map(_.woe)
      val pairs = woes.zip(woes.drop(1))
      val iv = bs.filter(Kernels.isCompleteRow).map(_.ivComponents).sum
      Seq(
        (size < rows.toDouble) -> s"$v: bin sizes sum to $size, fewer than the $rows rows",
        !(pairs.forall(p => p._1 <= p._2) || pairs.forall(p => p._1 >= p._2)) ->
          s"$v: WoE not monotone across complete bins",
        (iv.isNaN || iv.isInfinite) -> s"$v: total IV $iv not finite"
      ).collect { case (true, msg) => msg }
    }

  /** Checks a fitted model against the MOB invariants and the reference
    * digest (the first fit of the run sets it).
    */
  final class ModelCheck(rows: Long) {
    private var ref: Option[String] = None
    def apply(m: WoeBinningModel): (Boolean, String) = {
      val bad = invariantViolations(m, rows)
      val d = digest(m)
      if (ref.isEmpty && bad.isEmpty) ref = Some(d)
      if (bad.nonEmpty) (false, bad.mkString("; "))
      else if (!ref.contains(d)) (false, s"bins digest $d != ${ref.get}")
      else (true, "")
    }
  }

  /** Each variable's WoE labels: the values `transform` can emit for it. */
  def woeLabels(m: WoeBinningModel): Map[String, Seq[Double]] =
    m.fitted.map { case (v, bs) =>
      v -> bs.filter(Kernels.isCompleteRow).map(_.woe).distinct
    }.toMap

  /** The action that ends a `score_batch` op: it evaluates every output
    * cell and returns the row count and the sum of per-row xxhash64, an
    * order-independent exact checksum.  The sum is a decimal because a
    * long sum overflows, which ANSI mode turns into an error.
    */
  def scoreSum(out: DataFrame): (Long, BigDecimal) = {
    val r: Row = out.agg(
      count(lit(1)),
      sum(xxhash64(out.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Number of cells of a scored frame that are not one of their
    * variable's WoE labels (a separate action, outside any timed op).
    */
  def foreignCells(out: DataFrame, labels: Map[String, Seq[Double]]): Long =
    out.agg(sum(out.columns.toSeq.map { c =>
      when(col(c).isin(labels(c.stripSuffix("_bin")): _*), 0L).otherwise(1L)
    }.reduce(_ + _))).head().getLong(0)

  /** `fit_wide`: WoeBinning.fit of all 12 features (default nThreshold). */
  final class FitWide(spark: SparkSession, dataDir: String) extends Workload {
    private val df = spark.read.parquet(s"$dataDir/fit")
    private val rows = df.count()
    private val check = new ModelCheck(rows)
    val warmups = 6

    private def outcome(wall: Double, m: WoeBinningModel, values: Map[String, Any]) = {
      val (ok, why) = check(m)
      OpOutcome(wall, ok, why, values)
    }

    def run(): OpOutcome = {
      val (wall, m) = timed(WoeBinning.fit(df, Target, Features))
      outcome(wall, m, Map.empty)
    }

    /** WoeBinning.fit's steps, in its order, through the same calls. */
    def traced(tr: Tracer): OpOutcome = {
      import spark.implicits._
      val varS = mutable.Map.empty[String, Double]
      val (wall, (m, collected, decoded)) = timed(tr.op {
        val collected = tr.span("WoeBinning.stats") {
          WoeBinning.statsAggregation(df, Target, Features)
            .as[WoeBinning.StatsTuple].collect()
        }
        val stats = tr.span("WoeBinning.decode")(WoeBinning.statsFromTuples(collected))
        val n = stats.valuesIterator.map(_.totalRows).maxOption.getOrElse(0L)
        val cfg = WoeConfig(math.ceil(n.toDouble / 20.0))
        val fitted = tr.span("Kernels.fit") {
          Features.par.map { c =>
            val (s, bins) = timed(WoeBinning.fitOne(c, Target, stats, cfg, None))
            (c, bins, s)
          }.seq.toVector
        }
        fitted.foreach(f => varS(f._1) = f._3)
        val medians = tr.span("Kernels.exactMedian") {
          stats.map { case (v, s) => v -> Kernels.exactMedian(s.groups) }
        }
        val m = new WoeBinningModel(fitted.map(f => f._1 -> f._2), medians,
          Some(df.queryExecution.analyzed))
        (m, collected.length, stats.valuesIterator.map(_.groups.length).sum)
      })
      outcome(wall, m, Map(
        "collect_rows" -> collected, "decode_rows" -> decoded,
        "fit_max_var_s" -> varS.values.max,
        "bins_out" -> m.fitted.map(_._2.length).sum))
    }
  }

  /** `score_batch`: transform of a separate scoring batch with a model
    * fitted in set-up, then one action over every output cell.
    */
  final class ScoreBatch(spark: SparkSession, dataDir: String) extends Workload {
    private val model = WoeBinning.fit(spark.read.parquet(s"$dataDir/fit"), Target, Features)
    private val df = spark.read.parquet(s"$dataDir/score")
    private val rows = df.count()
    private val labels = woeLabels(model)
    /** The first op's checksum, once that op's output passed the label
      * check: every cell one of its variable's WoE labels.  A later op
      * with the same checksum produced the same cells, so it passes too.
      */
    private var ref: Option[BigDecimal] = None
    val warmups = 6

    private def outcome(wall: Double, out: DataFrame, sum: (Long, BigDecimal),
        values: Map[String, Any]): OpOutcome = {
      val (n, hash) = sum
      // the label check is a separate action, after the clock stopped
      lazy val foreign = foreignCells(out, labels)
      val why =
        if (out.columns.length != Features.length)
          s"${out.columns.length} of ${Features.length} variables applied"
        else if (n != rows) s"$n rows scored, not $rows"
        else if (ref.isEmpty && foreign != 0) s"$foreign cells are not a WoE label"
        else if (ref.exists(_ != hash)) s"checksum $hash != ${ref.get}"
        else ""
      if (why.isEmpty && ref.isEmpty) ref = Some(hash)
      OpOutcome(wall, why.isEmpty, why, values)
    }

    def run(): OpOutcome = {
      val (wall, (out, sum)) = timed {
        val out = model.transform(df)
        (out, scoreSum(out))
      }
      outcome(wall, out, sum, Map.empty)
    }

    def traced(tr: Tracer): OpOutcome = {
      val (wall, (out, sum)) = timed(tr.op {
        val out = tr.span("WoeBinningModel.transform")(model.transform(df))
        (out, tr.span("WoeBinningModel.eval")(scoreSum(out)))
      })
      outcome(wall, out, sum, Map("vars_applied" -> out.columns.length))
    }
  }

  /** Fixed pre-bucket edges for two of the four amount columns; the
    * other two stay uncapped, so streaming state grows every trigger.
    */
  val StreamEdges: Map[String, Seq[Double]] = Map(
    "amt_1" -> (0 to 100).map(_ * 1000.0),
    "amt_2" -> (0 to 50).map(_ * 2000.0))

  /** `stream_refit`: one full drain of a file-source stream, one part
    * file per trigger, through StreamingWoe.fitStream with a fresh
    * checkpoint.
    */
  final class StreamRefit(spark: SparkSession, dataDir: String, workDir: String)
      extends Workload {
    private val path = s"$dataDir/stream"
    private val batch = spark.read.parquet(path)
    private val rows = batch.count()
    private val files = batch.inputFiles.length
    private val cfg = WoeConfig(math.ceil(rows.toDouble / 20.0))
    /** StreamingWoeSpec's contract: the drained model equals the batch
      * fit over the same rows, snapped with the same edges.  Fitted when
      * the first (warm-up) drain is checked, so the fit runs warm.
      */
    private lazy val expected = digest(WoeBinning.fit(
      StreamEdges.foldLeft(batch) { case (acc, (c, es)) => WoeBinning.snapToEdges(acc, c, es) },
      Target, Features, WoeFitOptions(nThreshold = Some(cfg.nThreshold))))
    private var drains = 0
    val warmups = 2

    private def drain(tr: Option[Tracer]): OpOutcome = {
      drains += 1
      val ckpt = Paths.get(workDir, "ckpt", drains.toString)
      val stream = spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(path)
      @volatile var last: Option[WoeBinningModel] = None
      val modelMs = mutable.ArrayBuffer.empty[Long]
      def body() = {
        val q = StreamingWoe.fitStream(stream, Target, Features, cfg,
          checkpointLocation = Some(ckpt.toString), preBucketEdges = StreamEdges) {
          (_, m) =>
            last = Some(m)
            modelMs.synchronized(modelMs += System.currentTimeMillis())
        }
        try q.processAllAvailable() finally q.stop()
        q
      }
      val (wall, q) = timed(tr.fold(body())(t =>
        t.op(t.span("StreamingWoe.fitStream")(body()))))
      deleteTree(ckpt)
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val jobEnds = tr.fold(Seq.empty[Long])(t => t.synchronized(t.jobEndsMs.toSeq))
      val triggers = progress.zip(modelMs.synchronized(modelMs.toSeq)).map { case (p, doneMs) =>
        def d(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
        val state = p.stateOperators.headOption
        Map(
          "trigger_ms" -> d("triggerExecution"),
          "add_batch_ms" -> d("addBatch"),
          "plan_ms" -> d("queryPlanning"),
          "offsets_ms" -> (d("latestOffset") + d("getBatch") + d("walCommit") +
            d("commitOffsets")),
          "state_rows" -> state.fold(0L)(_.numRowsTotal),
          "state_bytes" -> state.fold(0L)(_.memoryUsedBytes),
          "state_commit_ms" -> state.fold(0L)(_.commitTimeMs),
          // driver-side decode + kernels: last job end before the model
          "refit_ms" -> jobEnds.filter(_ <= doneMs).maxOption.fold(0L)(doneMs - _))
      }
      val got = last.map(digest)
      val why =
        if (progress.length != files) s"${progress.length} triggers, not $files"
        else if (!got.contains(expected)) s"drained model ${got.getOrElse("none")} != batch fit $expected"
        else ""
      OpOutcome(wall, why.isEmpty, why, Map("triggers" -> triggers))
    }

    def run(): OpOutcome = drain(None)
    def traced(tr: Tracer): OpOutcome = drain(Some(tr))
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def session(workDir: String): SparkSession = {
    val k = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cumulative (steal jiffies, cpu count) from /proc/stat, or None. */
  private def stealJiffies(): Option[(Long, Int)] = scala.util.Try {
    val lines = scala.io.Source.fromFile("/proc/stat").getLines().toVector
    val steal = lines.find(_.startsWith("cpu ")).get.trim.split("\\s+")(8).toLong
    (steal, lines.count(l => l.startsWith("cpu") && !l.startsWith("cpu ")))
  }.toOption

  private def loadavg(): Double = scala.util.Try(
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
  ).getOrElse(-1.0)

  private def gcSeconds(): Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1000.0
  }


  /** Peak total heap in use while it is open: the heap is fullest just
    * before a collection, so this is the largest sum over the heap pools
    * of their use before any collection, or of their use at close.
    */
  private final class HeapPeak extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == MemoryType.HEAP)
    private val heapNames = heapPools.map(_.getName).toSet
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      .collect { case e: NotificationEmitter => e }
    private var peak = 0L
    emitters.foreach(_.addNotificationListener(this, null, null))

    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val before = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageBeforeGc
        val used = before.asScala.collect { case (k, u) if heapNames(k) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }

    /** Stops listening; returns the peak in bytes. */
    def close(): Long = {
      emitters.foreach(_.removeNotificationListener(this))
      synchronized(math.max(peak, heapPools.map(_.getUsage.getUsed).sum))
    }
  }

  private def opRecord(o: OpOutcome): Map[String, Any] =
    Map("wall_s" -> o.wallS, "cpu_s" -> o.cpuS, "ok" -> o.ok, "detail" -> o.detail) ++
      o.values

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by every thread of this JVM so far (task threads,
    * driver, GC and JIT; the kernel leaves hypervisor steal out).
    */
  private def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** Runs one op; an exception is a failed op. */
  private def attempt(f: => OpOutcome): OpOutcome = {
    val c0 = cpuSeconds()
    val o =
      try f
      catch { case NonFatal(e) =>
        OpOutcome(0.0, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
      }
    o.copy(cpuS = cpuSeconds() - c0)
  }

  /** Usage: MobBench <workload> <dataDir> <seconds> <trace 0|1> <workDir> <outJson>
    *    or: MobBench selftest <dataDir> <workDir>
    */
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) { selftest(args(1), args(2)); return }
    val Array(name, dataDir, secondsArg, traceArg, workDir, outPath) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(workDir)
    try {
      val w: Workload = name match {
        case "fit_wide" => new FitWide(spark, dataDir)
        case "score_batch" => new ScoreBatch(spark, dataDir)
        case "stream_refit" => new StreamRefit(spark, dataDir, workDir)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      (1 to w.warmups).foreach { _ =>
        val o = w.run()
        if (!o.ok) throw new IllegalStateException(s"warm-up op failed its check: ${o.detail}")
      }
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

      val tracer = if (trace) Some(new Tracer(spark)) else None
      val heap = new HeapPeak
      val gc0 = gcSeconds()
      val steal0 = stealJiffies()
      val load0 = loadavg()
      val origin = System.nanoTime()
      val timedOps = mutable.ArrayBuffer.empty[OpOutcome]
      val tracedOps = mutable.ArrayBuffer.empty[OpOutcome]
      // a traced run alternates untraced and traced ops, so both sides
      // of the tracing overhead see the same host and JIT state
      val minOps = 2
      while (secondsSince(origin) < seconds || timedOps.length < minOps ||
          (trace && tracedOps.length < minOps)) {
        timedOps += attempt(w.run())
        tracer.foreach(t => tracedOps += attempt(w.traced(t)))
      }
      val measuredS = secondsSince(origin)
      tracer.foreach(_.close())
      val stealFrac = (steal0, stealJiffies()) match {
        case (Some((s0, cpus)), Some((s1, _))) if cpus > 0 =>
          (s1 - s0) / (cpus * measuredS * 100.0) // USER_HZ = 100
        case _ => -1.0
      }
      val record = Map(
        "workload" -> name,
        "setup_s" -> setupS,
        "ops" -> timedOps.map(opRecord),
        "traced_ops" -> tracedOps.map(opRecord),
        "spans" -> tracer.fold(Seq.empty[Map[String, Any]])(_.spansJson(origin)),
        "host" -> Map("steal_frac" -> stealFrac,
          "loadavg" -> (load0 + loadavg()) / 2),
        "jvm" -> Map("gc_s" -> (gcSeconds() - gc0),
          "heap_peak_mb" -> heap.close() / 1048576.0))
      Files.write(Paths.get(outPath), Json.write(record).getBytes(UTF_8))
    } finally spark.stop()
  }

  /** The score checksum is the same whatever the partitioning or row
    * order of the scored batch; prints "selftest ok" when it holds.
    */
  def selftest(dataDir: String, workDir: String): Unit = {
    val spark = session(workDir)
    try {
      val model = WoeBinning.fit(spark.read.parquet(s"$dataDir/fit"), Target, Features)
      val df = spark.read.parquet(s"$dataDir/score")
      val outs = Seq(df, df.repartition(7), df.coalesce(1).orderBy(rand(3))).map(d => model.transform(d))
      val sums = outs.map(scoreSum)
      val foreign = foreignCells(outs.head, woeLabels(model))
      val fit = new FitWide(spark, dataDir)
      val fits = Seq(fit.run(), fit.run())
      require(sums.distinct.length == 1, s"checksum depends on partitioning: $sums")
      require(foreign == 0L, s"$foreign cells outside the WoE labels")
      require(fits.forall(_.ok), s"fit check failed: ${fits.map(_.detail)}")
      println("selftest ok")
    } finally spark.stop()
  }
}
