package graft.tools

import org.apache.spark.sql.SparkSession

/** Interleaved A/B benchmark: times the two flavors of a
  * `SparkEntry.abVariants` comparison ROUND-ROBIN in ONE JVM session,
  * with unchanged sibling queries as controls.
  *
  * Why this exists (CONTENTION.md's host-state rule): two bench
  * records taken at different times — one per round, or one per git
  * ref — drift together by ±10-15% with the host's state, so a
  * cross-record per-query delta is unattributable.  Interleaving the
  * two arms inside one session makes the A-vs-B delta smear-immune by
  * construction (any contention window hits both arms), and the
  * control queries, which run the SAME code in both arms' slots,
  * measure the residual noise floor: a real change must clear the
  * controls' |delta|.
  *
  * Schedule per pass: A B c₁ c₂ … on even passes, B A c₁ c₂ … on odd
  * passes (order alternation cancels first-slot cache/JIT advantage).
  * Warmup on the small SF first, like Bench.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.BenchAB [comparison]"
  * Env: SPARK_GRAFT_AB_CONTROLS (comma list of query names; default a
  * fixed stable trio), SPARK_GRAFT_BENCH_RUNS (default 5),
  * SPARK_GRAFT_AB_OUT (default BENCH_ab.json).
  */
object BenchAB {
  def main(args: Array[String]): Unit = {
    val comparison = args.headOption.getOrElse(
      graft.SparkEntry.abVariants.keys.head)
    val variant = graft.SparkEntry.abVariants.getOrElse(comparison,
      sys.error(s"unknown comparison '$comparison'; " +
        s"have: ${graft.SparkEntry.abVariants.keys.mkString(", ")}"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val controls = sys.env.get("SPARK_GRAFT_AB_CONTROLS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_fit_exact", "q_hll_agg", "q_eval_auc"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val controlFns = controls.map(n => n -> graft.SparkEntry.query(n).run)
    type Task = (String, () => Unit)
    def release(): Unit = graft.ops.DedupOps.unpersistAll()
    val armA: Task = ("A", () => { variant.a(spark, sfDir).count(); release() })
    val armB: Task = ("B", () => { variant.b(spark, sfDir).count(); release() })
    val ctlTasks: Seq[Task] = controlFns.map { case (n, fn) =>
      (n, () => { fn(spark, sfDir).count(); release() }): Task
    }

    // warmup (codegen/JIT) on the tiny SF, then drop its cached data
    (Seq(("A", () => { variant.a(spark, warmDir).count(); release() }): Task,
      ("B", () => { variant.b(spark, warmDir).count(); release() }): Task) ++
      controlFns.map { case (n, fn) =>
        (n, () => { fn(spark, warmDir).count(); release() }): Task
      }).foreach { case (n, t) =>
      try t() catch { case e: Throwable =>
        System.err.println(s"[ab] warmup $n: ${e.getMessage}") }
    }
    spark.catalog.clearCache()

    val times = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (pass <- 0 until runs) {
      val pair = if (pass % 2 == 0) Seq(armA, armB) else Seq(armB, armA)
      (pair ++ ctlTasks).foreach { case (name, task) =>
        val t0 = System.nanoTime()
        try task() catch { case e: Throwable =>
          System.err.println(s"[ab] $name pass $pass: ${e.getMessage}") }
        times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
      }
    }

    def median(ts: Vector[Double]): Double = {
      val s = ts.sorted
      if (s.isEmpty) Double.NaN
      else if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    def stat(name: String): String = {
      val ts = times(name)
      val all = ts.map(t => f"$t%.4f").mkString("[", ",", "]")
      f"""{"median":${median(ts)}%.4f,"min":${ts.min}%.4f,"all":$all}"""
    }
    val mA = median(times("A"))
    val mB = median(times("B"))
    // control drift: per-control relative spread (max-min over median)
    // — the session's own noise floor the A/B delta must clear
    val ctlDrift = controls.map { n =>
      val ts = times(n)
      f""""$n":${(ts.max - ts.min) / median(ts)}%.4f"""
    }.mkString("{", ",", "}")
    val line =
      f"""{"metric":"ab","comparison":"$comparison","sf":"$sfDir","runs":$runs,""" +
        f""""label_a":"${variant.labelA}","label_b":"${variant.labelB}",""" +
        f""""a":${stat("A")},"b":${stat("B")},""" +
        f""""delta_sec":${mA - mB}%.4f,"delta_rel":${(mA - mB) / mB}%.4f,""" +
        f""""controls":${controls.map(n => s""""$n":${stat(n)}""").mkString("{", ",", "}")},""" +
        f""""control_drift_rel":$ctlDrift}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_AB_OUT", "BENCH_ab.json")
    scala.util.Try {
      val p = java.nio.file.Paths.get(outPath).toAbsolutePath
      // JSONL, append: one line per comparison run, so the durable file
      // accumulates the round's records instead of keeping only the
      // last run (re-runs of a comparison append too — latest wins)
      java.nio.file.Files.writeString(p, line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      System.err.println(s"[ab] durable copy: $p")
    }.failed.foreach(e => System.err.println(s"[ab] durable write: $e"))
    println(line)
    spark.stop()
  }
}
