package graft

import java.lang.Double.doubleToLongBits
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.{Kernels, WoeBin, WoeConfig}
import graft.spark.{FitStats, StatsRuns, WoeBinning, WoeFitOptions}

/** The fit's narrow stats pass (`FitStats.of(..).varStats(..)`) equals
  * the grouped aggregation it replaced,
  * `statsFromTuples(statsAggregation(..).collect())`, bit for bit: every
  * value by `doubleToLongBits`, every count and every sum.  Its
  * per-segment form (`FitStats.bySegment`, which `fitByGroup` reads)
  * equals the pass over each filtered segment the same way.  Its block
  * encode (`StatsRuns.encode`, one radix sort) equals the two-sort
  * encode it replaced, kept here as the oracle, and its one-stage
  * gather equals the `treeReduce` fold it replaced, also kept here.
  *
  * Frames come from ScalaCheck generators run on fixed seeds; a failure
  * names its seed.  Cells mix −0.0 next to 0.0, NaN and null, ±inf,
  * values near ±Double.MaxValue, and double, int, decimal and
  * string-typed columns, some all-missing, over more partitions than
  * rows (empty partitions).  Each frame runs at `shuffle.partitions` 1,
  * 7 or 64, as it is, repartitioned, or reordered.
  */
class FitStatsSpec extends AnyFunSuite {
  import FitStatsSpec._
  private lazy val spark = TestSpark.spark

  /** The grouped aggregation `fit` ran before the narrow pass. */
  private def oldStats(df: DataFrame, target: String,
      cols: Seq[String]): Map[String, Kernels.VarStats] = {
    import spark.implicits._
    WoeBinning.statsFromTuples(
      WoeBinning.statsAggregation(df, target, cols).as[WoeBinning.StatsTuple].collect())
  }

  /** The stats `fit` reads. */
  private def statsOf(df: DataFrame, cols: Seq[String]): Map[String, Kernels.VarStats] =
    FitStats.of(df, "target", cols).varStats(cols)

  private def withShufflePartitions[A](n: Int)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val genTrial: Gen[Trial] = for {
    nCols <- Gen.choose(1, 4)
    types <- Gen.listOfN(nCols, Gen.frequency(
      4 -> Gen.const(DoubleCol), 1 -> Gen.const(IntCol),
      1 -> Gen.const(DecimalCol), 1 -> Gen.const(StringCol)))
    rows <- Gen.frequency(2 -> Gen.choose(0, 4), 4 -> Gen.choose(5, 60),
      3 -> Gen.choose(61, 300))
    cells <- Gen.sequence[List[Vector[Option[Double]]], Vector[Option[Double]]](
      types.map(genColumn(rows, _)))
    target <- Gen.listOfN(rows, Gen.oneOf(0, 1))
    partitions <- Gen.choose(1, 8)
    shufflePartitions <- Gen.oneOf(1, 7, 64)
    reshape <- Gen.oneOf(AsIs, Repartitioned, Reordered)
  } yield Trial(types.zip(cells), target.toVector, partitions, shufflePartitions, reshape)

  /** The trial's frame; `extra` adds a column after the target. */
  private def frame(t: Trial, extra: Option[(StructField, Vector[Any])] = None): DataFrame = {
    val names = t.cols.indices.map(i => s"c$i")
    val schema = StructType(names.zip(t.cols).map { case (n, (ty, _)) =>
      StructField(n, ty.sqlType, nullable = true) } ++ Seq(StructField("target", IntegerType)) ++
      extra.map(_._1))
    val rows = t.target.indices.map(r =>
      Row(t.cols.map { case (ty, c) => c(r).map(ty.cell).orNull } ++ Seq(t.target(r)) ++
        extra.map(_._2(r)): _*))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, t.partitions), schema)
    t.reshape match {
      case AsIs => df
      case Repartitioned => df.repartition(col("target"), col(names.head))
      case Reordered => df.orderBy(rand(7), col("target"))
    }
  }

  private def check(t: Trial, seed: Long, cov: Coverage): Coverage = {
    val cols = t.cols.indices.map(i => s"c$i")
    withShufflePartitions(t.shufflePartitions) {
      val df = frame(t)
      sameStats(statsOf(df, cols),
        oldStats(df, "target", cols)).foreach(msg => fail(s"seed $seed ($t): $msg"))
    }
    val present = t.cols.map { case (ty, c) => c.flatten.filterNot(_.isNaN).map(ty.asDouble) }
    cov.copy(
      types = cov.types ++ t.cols.map(_._1),
      signedZeros = cov.signedZeros + present.count(p =>
        p.exists(x => doubleToLongBits(x) == doubleToLongBits(-0.0)) && p.contains(0.0)),
      nan = cov.nan + t.cols.count(_._2.exists(_.exists(_.isNaN))),
      nulls = cov.nulls + t.cols.count(_._2.contains(None)),
      infinite = cov.infinite + present.count(_.exists(_.isInfinite)),
      huge = cov.huge + present.count(_.exists(x => !x.isInfinite && math.abs(x) > 1e300)),
      allMissing = cov.allMissing + present.count(p => p.isEmpty) * (if (t.target.nonEmpty) 1 else 0),
      emptyPartition = cov.emptyPartition + (if (t.target.length < t.partitions) 1 else 0),
      shufflePartitions = cov.shufflePartitions + t.shufflePartitions,
      reshapes = cov.reshapes + t.reshape)
  }

  test("narrow stats pass == grouped aggregation, bit for bit (generated frames)") {
    val cov = (1L to 60L).foldLeft(Coverage()) { (cov, seed) =>
      check(genTrial.pureApply(Gen.Parameters.default, Seed(seed)), seed, cov)
    }
    info(cov.toString)
    assert(cov.types == Set(DoubleCol, IntCol, DecimalCol, StringCol), cov)
    assert(cov.signedZeros > 0 && cov.nan > 0 && cov.nulls > 0, cov)
    assert(cov.infinite > 0 && cov.huge > 0 && cov.allMissing > 0, cov)
    assert(cov.emptyPartition > 0, cov)
    assert(cov.shufflePartitions == Set(1, 7, 64), cov)
    assert(cov.reshapes == Set(AsIs, Repartitioned, Reordered), cov)
  }

  test("narrow stats pass == grouped aggregation across block boundaries in a partition") {
    // the first partition holds 2.5 blocks: blocks fold into each other
    // within the task, then the two tasks merge.  x repeats in every
    // block; y is unique (the tiers merge); z holds −0.0, 0.0 and NaN
    val big = FitStats.BlockRows * 5L / 2
    val df = spark.range(0, big + 5000, 1, 1).union(spark.range(big + 5000, big + 9000, 1, 1))
      .select(
        (col("id") % 997).cast("double").as("x"),
        (col("id") * 0.5).as("y"),
        when(col("id") % 5 === 0, lit(-0.0)).when(col("id") % 5 === 1, lit(0.0))
          .when(col("id") % 5 === 2, lit(Double.NaN)).otherwise(col("id") % 3).as("z"),
        ((col("id") * 7919) % 13 < 4).cast("int").as("target"))
    for (n <- Seq(1, 7)) withShufflePartitions(n) {
      sameStats(statsOf(df, Seq("x", "y", "z")),
        oldStats(df, "target", Seq("x", "y", "z"))).foreach(msg => fail(s"$n: $msg"))
    }
  }

  test("radix block encode == two-sort encode, bit for bit (generated blocks)") {
    // one scratch for every block, as one task's segments share it
    val scratch = new StatsRuns.Scratch
    var cov = EncodeCoverage()
    for (seed <- 1L to 400L) {
      val b = genBlock.pureApply(Gen.Parameters.default, Seed(seed))
      val vals = b.vals.toArray
      val n = vals.length
      val ones = vals.indices.filter(b.ones).map(vals).toArray
      val want = twoSortEncode(vals.clone(), n, ones, ones.length)
      val wts = b.ones.map(o => StatsRuns.weight(1, if (o) 1 else 0)).toArray
      val got = StatsRuns.encode(vals, wts, n, true, scratch)
      sameRuns(got, want).foreach(msg => fail(s"seed $seed ($b): $msg"))
      val counted = StatsRuns.encode(vals, wts, n, false, scratch)
      assert(!counted.hasTarget, s"seed $seed ($b): a counts-only encode carries target sums")
      sameRuns(new StatsRuns(counted.values, counted.counts, want.tsums), want)
        .foreach(msg => fail(s"seed $seed ($b), counts only: $msg"))
      assert(vals.sameElements(b.vals), s"seed $seed ($b): encode reordered its input")
      // the same rows as weighted entries, one per (value, target bit)
      // pair in first-seen order, as a dictionary batch adds them
      val entries = vals.indices.groupBy(i => (doubleToLongBits(vals(i)), b.ones(i))).toSeq
        .sortBy(_._2.head).map { case (_, is) =>
          (vals(is.head), StatsRuns.weight(is.length, if (b.ones(is.head)) is.length else 0)) }
      val weighted = StatsRuns.encode(entries.map(_._1).toArray, entries.map(_._2).toArray,
        entries.length, true, scratch)
      sameRuns(weighted, want).foreach(msg => fail(s"seed $seed ($b), weighted entries: $msg"))
      cov = cov.add(b)
    }
    info(cov.toString)
    assert(cov.empty > 0 && cov.single > 0 && cov.allEqual > 0 && cov.fullBlock > 0, cov)
    assert(cov.allZero > 0 && cov.allOne > 0 && cov.mixed > 0, cov)
    assert(cov.negative > 0 && cov.infinite == Set(1.0, -1.0) && cov.maxValue == Set(1.0, -1.0), cov)
    assert(cov.subnormal > 0 && cov.minPositive > 0, cov)
  }

  test("runs round-trip through serialization as varint runs") {
    def roundTrip(r: StatsRuns): (StatsRuns, Int) = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(r); out.close()
      val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      (in.readObject().asInstanceOf[StatsRuns], bytes.size)
    }
    val n = 10000
    val values = Array.tabulate(n)(i => i * 0.5 - 7.0)
    val counts = Array.tabulate(n)(i => 1L + i % 3)
    val tsums = Array.tabulate(n)(i => (i % 2).toLong)
    // every edge of the value order, each next to its neighbours
    val edges = (Seq(Double.NegativeInfinity, -Double.MaxValue, Math.nextUp(-Double.MaxValue),
      -1.0, -java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL / 3,
      -Double.MinPositiveValue, 0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL / 7,
      Math.nextDown(java.lang.Double.MIN_NORMAL), java.lang.Double.MIN_NORMAL, 1.0,
      Math.nextDown(Double.MaxValue), Double.MaxValue, Double.PositiveInfinity)).toArray
    val edgeCounts = Array.tabulate(edges.length)(i => if (i % 2 == 0) Long.MaxValue else 1L + i)
    val edgeTsums = Array.tabulate(edges.length)(i => if (i % 3 == 0) Long.MaxValue else i.toLong)
    // per-run byte bounds: most key steps of `values` take 6 varint
    // bytes (up to 9 near zero), a count or target sum under 128 one,
    // and any long at most 10
    val cases = Seq(
      ("with a target", new StatsRuns(values, counts, tsums), 9),
      ("counts only", new StatsRuns(values, counts, null), 8),
      ("a count over Int.MaxValue", new StatsRuns(values, counts.updated(7, 1L << 40), tsums), 9),
      ("a target sum over Int.MaxValue", new StatsRuns(values, counts.updated(7, 1L << 40),
        tsums.updated(7, 1L << 35)), 9),
      ("±inf, ±Double.MaxValue, subnormals, counts and sums up to Long.MaxValue",
        new StatsRuns(edges, edgeCounts, edgeTsums), 30),
      ("the same edges, counts only", new StatsRuns(edges, edgeCounts, null), 20),
      ("empty", StatsRuns.empty(true), 0),
      ("empty, counts only", StatsRuns.empty(false), 0))
    def plain(r: StatsRuns) =
      (r.values.map(doubleToLongBits).toSeq, r.counts.toSeq, Option(r.tsums).map(_.toSeq))
    for ((what, r, perRun) <- cases) {
      val (back, size) = roundTrip(r)
      assert(plain(back) == plain(r), what)
      assert(back.hasTarget == r.hasTarget, what)
      // the stream frames its data in 1 kB blocks of 5-byte headers
      assert(size.toLong <= perRun.toLong * r.size * 1005 / 1000 + 1024, s"$what: $size bytes")
    }
    // a near-unique column's runs ship in about a third of their array bytes
    val (_, size) = roundTrip(new StatsRuns(values, counts, tsums))
    assert(size < 24 * n / 2, s"$size bytes for $n runs")
  }

  test("one-stage gather == the treeReduce fold it replaced, bit for bit (1 to 200 partitions)") {
    // the old driver path: `treeReduce` of the per-partition maps, each
    // merge folding segment by segment
    def treeReduceFold(parts: RDD[Map[String, FitStats]]): Map[String, FitStats] =
      if (parts.partitions.isEmpty) Map.empty
      else parts.treeReduce((a, b) => b.foldLeft(a) { case (acc, (g, s)) =>
        acc.updated(g, acc.get(g).fold(s)(_ merge s)) })
    def plain(m: Map[String, FitStats]) = m.map { case (g, s) =>
      g -> (s.runs.toSeq.map(r => (r.values.map(doubleToLongBits).toSeq, r.counts.toSeq,
          Option(r.tsums).map(_.toSeq))), s.missing.toSeq, s.missingTsum.toSeq, s.rows,
        s.badTarget, s.nullTarget)
    }
    // x near-unique, y few values with NaN, null, −0.0 and ±inf; some
    // bad and null targets; a segment with nulls
    def ranged(p: Int) = spark.range(0, 12000, 1, p).select(
      (col("id") * 7919 % 12007 * 0.25).as("x"),
      when(col("id") % 11 === 0, lit(Double.NaN)).when(col("id") % 13 === 0, lit(null))
        .when(col("id") % 17 === 0, lit(-0.0)).when(col("id") % 19 === 0, lit(Double.PositiveInfinity))
        .otherwise(col("id") % 7 - 3.0).as("y"),
      when(col("id") === 4321, lit(null)).when(col("id") === 8765, lit(2.0))
        .otherwise(((col("id") * 31) % 5 < 2).cast("double")).as("target"),
      when(col("id") % 23 === 0, lit(null)).otherwise((col("id") * 13 % 5).cast("string")).as("seg"))
    var modes = Set.empty[String]
    for (p <- Seq(1, 4, 8, 32, 33, 64, 200)) {
      val t = genTrial.pureApply(Gen.Parameters.default, Seed(p.toLong))
      val frames = Seq("ranged" -> (ranged(p), Seq("x", "y")),
        "generated" -> (frame(t.copy(partitions = p, reshape = AsIs)), t.cols.indices.map(i => s"c$i")))
      for ((kind, (df, cols)) <- frames) {
        val passes = Seq(
          "with a target" -> FitStats.partials(df, Some("target"), cols, None),
          "counts only" -> FitStats.partials(df, None, cols, None)) ++
          (if (kind == "ranged") Seq("bySegment" -> FitStats.partials(df, Some("target"), cols,
            Some("seg"))) else Nil)
        for ((mode, parts) <- passes) {
          assert(parts.getNumPartitions == p, s"$p partitions, $kind, $mode")
          val got = plain(FitStats.gather(parts))
          val want = plain(treeReduceFold(parts))
          assert(got == want, s"$p partitions, $kind, $mode")
          assert(kind == "generated" && t.target.isEmpty || got.nonEmpty, s"$p, $kind, $mode")
          modes += mode
        }
      }
    }
    assert(modes == Set("with a target", "counts only", "bySegment"), modes)
  }

  test("fit with sepValue or maxDistinct == fit over the grouped aggregation") {
    // the model the grouped stats give, through fit's own steps
    def oldFit(df: DataFrame, cols: Seq[String], opts: WoeFitOptions) = {
      val base = opts.maxDistinct.map(m => WoeBinning.preBin(df, cols, m)).getOrElse(df)
      val stats = oldStats(base, "target", cols)
      val n = stats.valuesIterator.map(_.totalRows).max
      val cfg = WoeConfig(opts.nThreshold.getOrElse(math.ceil(n / 20.0)),
        opts.nOccurrences, opts.pThreshold, opts.sortOverload, opts.mergeThreshold)
      cols.map(c => c -> WoeBinning.fitOne(c, "target", stats, cfg, opts.sepValue))
    }
    val df = spark.range(0, 6000, 1, 5).select(
      when(col("id") % 9 === 0, lit(-1.0)).when(col("id") % 31 === 0, lit(null))
        .otherwise((col("id") * 13) % 40).cast("double").as("x"),
      (col("id") * 0.37 % 500).as("y"),
      (rand(3) < (col("id") % 40 + 5) / 60.0).cast("int").as("target"))
    for (opts <- Seq(WoeFitOptions(nThreshold = Some(100), sepValue = Some(-1.0)),
        WoeFitOptions(maxDistinct = Some(50)), WoeFitOptions(nThreshold = Some(200),
          maxDistinct = Some(20), sepValue = Some(-1.0)))) {
      val cols = if (opts.sepValue.isDefined) Seq("x") else Seq("x", "y")
      val got = WoeBinning.fit(df, "target", cols, opts).fitted
      val want = oldFit(df, cols, opts)
      assert(got.map(v => v._1 -> v._2.map(binBits)) == want.map(v => v._1 -> v._2.map(binBits)),
        s"$opts: ${got.map(_._2.length)} vs ${want.map(_._2.length)} bins")
    }
  }

  /** A generated frame plus a segment column `seg`: string keys with
    * nulls (non-ASCII keys among them, where Java `String` order and
    * UTF-8 byte order differ), a single key, or many int keys.
    */
  private val genSegmented: Gen[(Trial, SegKind, Vector[Option[Any]])] = for {
    t <- genTrial
    kind <- Gen.oneOf(WithNulls, Single, ManyInts)
    segs <- Gen.listOfN(t.target.length, kind match {
      case WithNulls => Gen.frequency(3 -> Gen.const(None),
        7 -> Gen.oneOf("a", "B", "", "\u00e9", "\uffff", "\ud83d\ude00").map(Some(_)))
      case Single => Gen.const(Some("s"))
      case ManyInts => Gen.choose(-20, 20).map(Some(_))
    })
  } yield (t, kind, segs.toVector)

  private def segmentedFrame(t: Trial, kind: SegKind, segs: Vector[Option[Any]]): DataFrame =
    frame(t, Some(StructField("seg", if (kind == ManyInts) IntegerType else StringType) ->
      segs.map(_.orNull)))

  test("segmented pass == FitStats.of per filtered segment, bit for bit (generated frames)") {
    var kinds = Set.empty[SegKind]
    var orderSensitive = 0
    for (seed <- 1L to 40L) {
      val (t, kind, segs) = genSegmented.pureApply(Gen.Parameters.default, Seed(seed))
      val cols = t.cols.indices.map(i => s"c$i")
      withShufflePartitions(t.shufflePartitions) {
        val df = segmentedFrame(t, kind, segs)
        val got = FitStats.bySegment(df, "target", cols, "seg")
        val want = segs.flatten.map(_.toString).distinct.sorted
        assert(got.map(_._1) == want, s"seed $seed ($t, $kind): segment keys in String order")
        got.foreach { case (g, s) =>
          sameStats(s.varStats(cols),
            statsOf(df.filter(col("seg").cast("string") === g), cols))
            .foreach(msg => fail(s"seed $seed ($t, $kind), segment '$g': $msg"))
        }
        if (want.contains("\uffff") && want.contains("\ud83d\ude00")) orderSensitive += 1
      }
      kinds += kind
    }
    assert(kinds == Set(WithNulls, Single, ManyInts) && orderSensitive > 0, (kinds, orderSensitive))
  }

  test("segmented pass: many small segments that together exceed a block, in one task") {
    // one partition of 2.2 blocks over 400 segments of skewed sizes
    // (and null segments): every segment flushes when the task's
    // buffered rows reach BlockRows, so each segment folds many blocks
    val rows = FitStats.BlockRows * 11L / 5
    val df = spark.range(0, rows, 1, 1).select(
      when(col("id") % 97 === 0, lit(null))
        .otherwise(floor(sqrt(pmod(col("id") * 7919, lit(160000L)))).cast("string")).as("seg"),
      (col("id") % 13).cast("double").as("x"),
      when(col("id") % 7 === 0, lit(Double.NaN)).otherwise(col("id") * 0.25).as("y"),
      ((col("id") * 7919) % 11 < 4).cast("int").as("target"))
    val got = FitStats.bySegment(df, "target", Seq("x", "y"), "seg")
    assert(got.length > 300, got.length)
    assert(got.map(_._1) == got.map(_._1).sorted)
    // merged over every segment: the stats of all non-null-segment rows
    sameStats(got.map(_._2).reduce(_ merge _).varStats(Seq("x", "y")),
      statsOf(df.filter(col("seg").isNotNull), Seq("x", "y")))
      .foreach(msg => fail(s"all segments merged: $msg"))
    // the largest and smallest segments, and a spread between them
    val bySize = got.sortBy(_._2.rows)
    val sample = (bySize.take(3) ++ bySize.takeRight(3) ++ bySize.grouped(40).map(_.head)).distinct
    sample.foreach { case (g, s) =>
      sameStats(s.varStats(Seq("x", "y")),
        statsOf(df.filter(col("seg") === g), Seq("x", "y")))
        .foreach(msg => fail(s"segment '$g': $msg"))
    }
  }

  test("fitByGroup target errors: thrown on the driver with the ungrouped texts, in segment order") {
    def frameOf(rows: Seq[(String, Any)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case ((g, t), i) =>
        Row(g, i.toDouble, t) }, 3),
      StructType(Seq(StructField("seg", StringType), StructField("x", DoubleType),
        StructField("target", DoubleType))))
    def message(rows: Seq[(String, Any)]) = intercept[IllegalArgumentException] {
      WoeBinning.fitByGroup(frameOf(rows), "target", Seq("x"), "seg")
    }.getMessage
    val bad = message(Seq("a" -> 0.0, "b" -> 1.0, "b" -> 2.0, "a" -> 1.0))
    assert(bad == "woe_binning: target must be 0/1 (variable 'x', value 2.0)", bad)
    val nulls = message(Seq("a" -> 0.0, "b" -> 1.0, "a" -> null, "b" -> 0.0))
    assert(nulls == "woe_binning: target contains nulls (variable 'x', value 2.0)", nulls)
    // segment "a" comes first, so its null target is reported before b's bad one
    val first = message(Seq("b" -> 3.0, "a" -> 1.0, "a" -> null, "b" -> 0.0))
    assert(first == "woe_binning: target contains nulls (variable 'x', value 2.0)", first)
    // a row of a null segment is skipped, its target included
    val kept = WoeBinning.fitByGroup(frameOf(Seq("a" -> 0.0, "a" -> 1.0, (null, null),
      (null, 5.0), "a" -> 1.0, "a" -> 0.0)), "target", Seq("x"), "seg",
      WoeFitOptions(nThreshold = Some(1)))
    assert(kept.map(_._1) == Seq("a"))
  }

  test("target errors: a bad target wins over a null one; both name a variable and a value") {
    def frameOf(targets: Seq[Any]) = spark.createDataFrame(
      spark.sparkContext.parallelize(targets.zipWithIndex.map { case (t, i) =>
        Row(i.toDouble, t) }, 3),
      StructType(Seq(StructField("x", DoubleType), StructField("target", DoubleType))))
    def message(targets: Seq[Any]) = intercept[IllegalArgumentException] {
      statsOf(frameOf(targets), Seq("x"))
    }.getMessage
    for (bad <- Seq(2.0, 0.5, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val m = message(Seq(0.0, null, 1.0, bad, null, 0.0))
      assert(m.contains("target must be 0/1 (variable 'x', value "), s"$bad: $m")
    }
    assert(message(Seq(0.0, 1.0, null, 1.0)) ==
      "woe_binning: target contains nulls (variable 'x', value 2.0)")
  }

  /** `kv` set in the Spark conf for the duration of `f`. */
  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Every value, count, sum, missing bucket, row count and target text
    * of a gathered pass, in comparable form.
    */
  private def plainStats(m: Map[String, FitStats]) = m.map { case (g, s) =>
    g -> (s.runs.toSeq.map(r => (r.values.map(doubleToLongBits).toSeq, r.counts.toSeq,
        Option(r.tsums).map(_.toSeq))), s.missing.toSeq, s.missingTsum.toSeq, s.rows,
      s.badTarget, s.nullTarget)
  }

  /** Writes `t`'s rows as three Parquet files of different layouts and
    * returns their directories: plain pages only (no dictionary); pages
    * of at most 8 rows under a 64-byte dictionary limit, so a chunk with
    * more values than fit starts dictionary-encoded and falls back to
    * plain part-way; and 512-byte row groups, each with its own
    * dictionary.
    */
  private def writeParquet(t: ParquetTrial, dir: java.nio.file.Path): Seq[String] = {
    val schema = StructType(t.cols.indices.map(i => StructField(s"c$i", t.cols(i)._1.sqlType)) :+
      StructField("target", IntegerType))
    val rows = t.target.indices.map(r => Row(t.cols.map(_._2(r)) :+ t.target(r).map(Int.box).orNull: _*))
    val layouts = Seq(
      Map("parquet.enable.dictionary" -> "false"),
      Map("parquet.dictionary.page.size" -> "64", "parquet.page.row.count.limit" -> "8",
        "parquet.page.size.row.check.min" -> "2", "parquet.page.size" -> "256"),
      Map("parquet.block.size" -> "512", "parquet.page.size.row.check.min" -> "4",
        "parquet.block.size.row.check.min" -> "4", "parquet.page.row.count.limit" -> "16"))
    val n = rows.length
    layouts.indices.map { l =>
      val out = dir.resolve(s"layout$l").toString
      spark.createDataFrame(spark.sparkContext.parallelize(rows.slice(n * l / 3, n * (l + 1) / 3), 1),
        schema).write.options(layouts(l)).parquet(out)
      out
    }
  }

  /** Per Parquet file under `dirs`: its row groups, and for each column
    * chunk whether it has dictionary-encoded and plain data pages.
    */
  private def layoutOf(dirs: Seq[String]): Seq[(Int, Seq[(Boolean, Boolean)])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    for {
      d <- dirs
      f <- new java.io.File(d).listFiles().toSeq if f.getName.endsWith(".parquet")
    } yield {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        blocks.length -> blocks.flatMap(_.getColumns.asScala).map { c =>
          val es = c.getEncodingStats
          (es != null && es.hasDictionaryEncodedPages, es != null && es.hasNonDictionaryEncodedPages)
        }
      } finally r.close()
    }
  }

  test("columnar pass == row pass, bit for bit (generated Parquet files)") {
    var cov = ParquetCoverage()
    val root = java.nio.file.Files.createTempDirectory("graft-fitstats-pq")
    try for (seed <- 1L to 36L) {
      val t = genParquetTrial.pureApply(Gen.Parameters.default, Seed(seed))
      val dirs = writeParquet(t, root.resolve(s"seed$seed"))
      val cols = t.cols.indices.map(i => s"c$i")
      val conf = Seq("spark.sql.parquet.columnarReaderBatchSize" -> t.batchSize.toString,
        "spark.sql.files.maxPartitionBytes" -> t.maxPartitionBytes.toString)
      def passes(pass: String) = Seq(Some("target"), None).map { target =>
        val parts = FitStats.partials(spark.read.parquet(dirs: _*), target, cols, None)
        assert(parts.name == pass, s"seed $seed ($t): ${parts.name}, not $pass")
        FitStats.gather(parts)
      }
      val got = withConf(conf: _*)(passes(FitStats.ColumnarPass))
      val want = withConf(conf :+ ("spark.sql.parquet.enableVectorizedReader" -> "false"): _*)(
        passes(FitStats.RowPass))
      for ((g, w, what) <- Seq((got(0), want(0), "with a target"), (got(1), want(1), "counts only")))
        assert(plainStats(g) == plainStats(w), s"seed $seed ($t), $what")
      if (t.target.nonEmpty && t.target.forall(x => x.contains(0) || x.contains(1)))
        sameStats(got(0)("").varStats(cols), want(0)("").varStats(cols))
          .foreach(msg => fail(s"seed $seed ($t): $msg"))
      cov = cov.add(t, layoutOf(dirs))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    info(cov.toString)
    assert(cov.types == Set(PqDouble, PqFloat, PqInt, PqLong), cov)
    assert(cov.signedZeros > 0 && cov.nan > 0 && cov.nulls > 0 && cov.infinite > 0, cov)
    assert(cov.badTarget > 0 && cov.nullTarget > 0 && cov.cleanTarget > 0, cov)
    assert(cov.plainChunks > 0 && cov.mixedChunks > 0 && cov.multiGroupDictFiles > 0, cov)
    assert(cov.batchSizes == Set(7, 64, 4096), cov)
  }

  test("a filter, a computed column, a cached frame, ORC and wholeStage=false take the row pass") {
    val root = java.nio.file.Files.createTempDirectory("graft-fitstats-route")
    try {
      val frame = spark.range(0, 3000, 1, 3).select(
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 50 * 0.5).as("x"),
        (col("id") % 13).cast("int").as("y"),
        (col("id") % 9).cast("decimal(10,2)").as("d"),
        ((col("id") * 7919) % 11 < 4).cast("int").as("target"))
      frame.write.parquet(s"$root/pq")
      frame.write.orc(s"$root/orc")
      val pq = spark.read.parquet(s"$root/pq")
      def run(df: DataFrame, cols: Seq[String] = Seq("x", "y"), group: Option[String] = None) = {
        val parts = FitStats.partials(df, Some("target"), cols, group)
        (parts.name, plainStats(FitStats.gather(parts)))
      }
      val (bare, stats) = run(pq)
      assert(bare == FitStats.ColumnarPass)
      assert(run(pq.select("target", "y", "x"))._1 == FitStats.ColumnarPass, "a reordering projection")
      val cached = pq.cache()
      try assert(run(cached) == (FitStats.RowPass, stats), "cached") finally cached.unpersist()
      assert(run(spark.read.orc(s"$root/orc")) == (FitStats.RowPass, stats), "ORC")
      assert(withConf("spark.sql.codegen.wholeStage" -> "false")(run(pq)) == (FitStats.RowPass, stats),
        "wholeStage=false")
      assert(run(pq.filter(col("y") =!= 3))._1 == FitStats.RowPass, "a filter")
      assert(run(pq.withColumn("x", col("x") * 2))._1 == FitStats.RowPass, "a computed column")
      assert(run(pq, Seq("x", "d"))._1 == FitStats.RowPass, "a decimal column")
      assert(run(pq, Seq("x"), Some("y"))._1 == FitStats.RowPass, "bySegment")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}

object FitStatsSpec {
  sealed trait ColType {
    def sqlType: DataType
    /** The cell stored for a drawn value. */
    def cell(x: Double): Any
    /** The value the stored cell casts to. */
    def asDouble(x: Double): Double = x
  }
  case object DoubleCol extends ColType {
    val sqlType = DoubleType
    def cell(x: Double): Any = x
  }
  case object IntCol extends ColType {
    val sqlType = IntegerType
    def cell(x: Double): Any = x.toInt
  }
  case object DecimalCol extends ColType {
    val sqlType = DecimalType(38, 3)
    def cell(x: Double): Any = new java.math.BigDecimal(x).setScale(3, java.math.RoundingMode.HALF_UP)
    override def asDouble(x: Double): Double = cell(x).asInstanceOf[java.math.BigDecimal].doubleValue
  }
  case object StringCol extends ColType {
    val sqlType = StringType
    def cell(x: Double): Any = x.toString // "NaN", "-0.0", "Infinity", "1.7976931348623157E308"
  }

  sealed trait SegKind
  case object WithNulls extends SegKind
  case object Single extends SegKind
  case object ManyInts extends SegKind

  sealed trait Reshape
  case object AsIs extends Reshape
  case object Repartitioned extends Reshape
  case object Reordered extends Reshape

  final case class Trial(
      cols: Seq[(ColType, Vector[Option[Double]])],
      target: Vector[Int],
      partitions: Int,
      shufflePartitions: Int,
      reshape: Reshape) {
    override def toString: String =
      s"${target.length} rows, types ${cols.map(_._1).mkString(",")}, " +
        s"$partitions partitions, shuffle.partitions $shufflePartitions, $reshape"
  }

  final case class Coverage(
      types: Set[ColType] = Set.empty,
      signedZeros: Int = 0,
      nan: Int = 0,
      nulls: Int = 0,
      infinite: Int = 0,
      huge: Int = 0,
      allMissing: Int = 0,
      emptyPartition: Int = 0,
      shufflePartitions: Set[Int] = Set.empty,
      reshapes: Set[Reshape] = Set.empty)

  private val Huge = Seq(Double.MaxValue, -Double.MaxValue, Math.nextDown(Double.MaxValue),
    Math.nextUp(-Double.MaxValue))
  private val Special = Seq(0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MinPositiveValue)

  /** A small pool per column, so values repeat across partitions. */
  def genColumn(rows: Int, ty: ColType): Gen[Vector[Option[Double]]] = {
    val values: Gen[Double] = ty match {
      case IntCol => Gen.oneOf(Gen.choose(-3, 3).map(_.toDouble),
        Gen.oneOf(Int.MaxValue.toDouble, Int.MinValue.toDouble))
      case DecimalCol => Gen.oneOf(Gen.choose(-5.0, 5.0), Gen.oneOf(0.0, 1e30, -1e30, 0.0005))
      case DoubleCol | StringCol => Gen.frequency(5 -> Gen.oneOf(Special ++ Huge),
        3 -> Gen.choose(-3, 3).map(_.toDouble), 2 -> Gen.choose(-5.0, 5.0))
    }
    for {
      poolSize <- Gen.choose(1, 8)
      pool <- Gen.listOfN(poolSize, values)
      missingRate <- Gen.oneOf(0.0, 0.0, 0.2, 0.5, 1.0)
      cells <- Gen.listOfN(rows, for {
        u <- Gen.choose(0.0, 1.0)
        nan <- Gen.oneOf(true, false)
        x <- Gen.oneOf(pool)
      } yield
        if (u >= missingRate) Some(x)
        else if (nan && (ty == DoubleCol || ty == StringCol)) Some(Double.NaN)
        else None)
    } yield cells.toVector
  }

  /** The block encode the radix pass replaced: the values and,
    * separately, the values of rows whose target is 1 are sorted with
    * `Arrays.sort` (in place), then run-length encoded side by side.
    */
  def twoSortEncode(vals: Array[Double], nv: Int, ones: Array[Double], no: Int): StatsRuns = {
    java.util.Arrays.sort(vals, 0, nv)
    java.util.Arrays.sort(ones, 0, no)
    val out = new StatsRuns.Builder(nv, true)
    var i = 0; var p = 0
    while (i < nv) {
      val x = vals(i)
      val start = i
      while (i < nv && vals(i) == x) i += 1
      // ones is a sub-multiset of vals, so every smaller one was taken
      val oneStart = p
      while (p < no && ones(p) == x) p += 1
      out.add(x, i - start, p - oneStart)
    }
    out.result()
  }

  /** The first difference between two runs, if any. */
  def sameRuns(got: StatsRuns, want: StatsRuns): Option[String] =
    if (got.size != want.size) Some(s"${got.size} vs ${want.size} runs")
    else (0 until got.size).find(i =>
      doubleToLongBits(got.values(i)) != doubleToLongBits(want.values(i)) ||
        got.counts(i) != want.counts(i) || got.tsums(i) != want.tsums(i)).map(i =>
      s"run $i: (${got.values(i)}, ${got.counts(i)}, ${got.tsums(i)}) vs " +
        s"(${want.values(i)}, ${want.counts(i)}, ${want.tsums(i)})")

  sealed trait BlockShape
  case object AllEqual extends BlockShape
  case object FewValues extends BlockShape
  case object ManyValues extends BlockShape

  sealed trait Targets
  case object AllZero extends Targets
  case object AllOne extends Targets
  case object Mixed extends Targets

  /** One block as a task buffers it: non-missing values, −0.0 folded. */
  final case class Block(vals: Vector[Double], ones: Vector[Boolean], shape: BlockShape,
      targets: Targets) {
    override def toString: String =
      s"${vals.length} rows, $shape, $targets, ${vals.distinct.length} distinct"
  }

  private val Subnormal = Seq(Double.MinPositiveValue, -Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL / 3, -java.lang.Double.MIN_NORMAL / 7,
    Math.nextDown(java.lang.Double.MIN_NORMAL))

  /** Specials, small ints, uniform doubles, and doubles of random bits
    * (NaN mapped to 0), which vary every byte of the radix key.
    */
  private val genValue: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(Special ++ Huge ++ Subnormal),
    3 -> Gen.choose(-50, 50).map(_.toDouble),
    2 -> Gen.choose(-1e6, 1e6),
    2 -> Gen.long.map(java.lang.Double.longBitsToDouble).map(x => if (x.isNaN) 0.0 else x))

  val genBlock: Gen[Block] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1), 6 -> Gen.choose(2, 300),
      2 -> Gen.choose(301, 5000), 1 -> Gen.const(FitStats.BlockRows))
    shape <- Gen.oneOf(AllEqual, FewValues, ManyValues)
    poolSize <- shape match {
      case AllEqual => Gen.const(1)
      case FewValues => Gen.choose(2, 10)
      case ManyValues => Gen.const(math.max(n, 1))
    }
    pool <- Gen.listOfN(poolSize, genValue).map(_.toVector)
    idx <- Gen.listOfN(n, Gen.choose(0, poolSize - 1))
    targets <- Gen.oneOf(AllZero, AllOne, Mixed)
    ones <- targets match {
      case AllZero => Gen.const(List.fill(n)(false))
      case AllOne => Gen.const(List.fill(n)(true))
      case Mixed => Gen.listOfN(n, Gen.oneOf(false, true))
    }
  } yield Block(idx.map(pool(_) + 0.0).toVector, ones.toVector, shape, targets)

  final case class EncodeCoverage(
      empty: Int = 0,
      single: Int = 0,
      allEqual: Int = 0,
      fullBlock: Int = 0,
      allZero: Int = 0,
      allOne: Int = 0,
      mixed: Int = 0,
      negative: Int = 0,
      infinite: Set[Double] = Set.empty,
      maxValue: Set[Double] = Set.empty,
      subnormal: Int = 0,
      minPositive: Int = 0) {
    def add(b: Block): EncodeCoverage = {
      val v = b.vals
      def has(p: Double => Boolean) = if (v.exists(p)) 1 else 0
      val several = v.length > 1
      copy(
        empty = empty + (if (v.isEmpty) 1 else 0),
        single = single + (if (v.length == 1) 1 else 0),
        allEqual = allEqual + (if (several && v.distinct.length == 1) 1 else 0),
        fullBlock = fullBlock + (if (v.length == FitStats.BlockRows) 1 else 0),
        allZero = allZero + (if (several && !b.ones.contains(true)) 1 else 0),
        allOne = allOne + (if (several && !b.ones.contains(false)) 1 else 0),
        mixed = mixed + (if (b.ones.contains(true) && b.ones.contains(false)) 1 else 0),
        negative = negative + has(_ < 0),
        infinite = infinite ++ v.filter(_.isInfinite).map(math.signum),
        maxValue = maxValue ++ v.filter(x => math.abs(x) == Double.MaxValue).map(math.signum),
        subnormal = subnormal + has(x => x != 0 && math.abs(x) < java.lang.Double.MIN_NORMAL),
        minPositive = minPositive + has(x => math.abs(x) == Double.MinPositiveValue))
    }
  }

  private def bits(s: Kernels.VarStats) =
    (s.groups.map { case (v, c, t) => (doubleToLongBits(v), c, t) },
      s.nanCount, s.nanTsum, s.totalRows, s.totalTsum)

  private def groupBits(s: Kernels.VarStats, i: Int) =
    (doubleToLongBits(s.values(i)), s.counts(i), s.tsums(i))

  /** The first difference between two stats maps, if any. */
  def sameStats(got: Map[String, Kernels.VarStats],
      want: Map[String, Kernels.VarStats]): Option[String] =
    if (got.keySet != want.keySet) Some(s"variables ${got.keySet} vs ${want.keySet}")
    else want.keys.toSeq.sorted.iterator.collect {
      case v if bits(got(v)) != bits(want(v)) =>
        val (g, w) = (got(v), want(v))
        val at = (0 until g.size).find(i => i >= w.size || groupBits(g, i) != groupBits(w, i))
        s"variable $v: missing (${g.nanCount}, ${g.nanTsum}) vs (${w.nanCount}, ${w.nanTsum}), " +
          s"totals (${g.totalRows}, ${g.totalTsum}) vs (${w.totalRows}, ${w.totalTsum}), " +
          s"${g.size} vs ${w.size} groups, first differing group " +
          at.map(i => s"$i: ${g.groups(i)} vs ${w.groups.lift(i)}").getOrElse("none")
    }.nextOption()

  def binBits(b: WoeBin): Seq[Any] = b.productIterator.map {
    case d: Double => doubleToLongBits(d)
    case x => x
  }.toSeq

  /** A Parquet column type of the columnar pass: the cell stored for a
    * drawn value, as its Spark type holds it.
    */
  sealed trait PqType {
    def sqlType: DataType
    def cell(x: Double): Any
  }
  case object PqDouble extends PqType {
    val sqlType = DoubleType
    def cell(x: Double): Any = x
  }
  case object PqFloat extends PqType {
    val sqlType = FloatType
    def cell(x: Double): Any = x.toFloat
  }
  case object PqInt extends PqType {
    val sqlType = IntegerType
    def cell(x: Double): Any = x.toInt
  }
  case object PqLong extends PqType {
    val sqlType = LongType
    def cell(x: Double): Any = x.toLong
  }

  final case class ParquetTrial(
      cols: Seq[(PqType, Vector[Any])],
      target: Vector[Option[Int]],
      batchSize: Int,
      maxPartitionBytes: Long) {
    override def toString: String =
      s"${target.length} rows, types ${cols.map(_._1).mkString(",")}, batches of $batchSize, " +
        s"maxPartitionBytes $maxPartitionBytes"
  }

  /** Up to 30 values a column, so a 64-byte dictionary overflows, with
    * −0.0 next to 0.0, ±inf, the type's extremes, NaN and null.
    */
  private def genPqColumn(rows: Int, ty: PqType): Gen[Vector[Any]] = {
    val values: Gen[Double] = ty match {
      case PqInt => Gen.oneOf(Gen.choose(-40, 40).map(_.toDouble),
        Gen.oneOf(Int.MaxValue.toDouble, Int.MinValue.toDouble))
      case PqLong => Gen.oneOf(Gen.choose(-40, 40).map(_.toDouble),
        Gen.oneOf(Long.MaxValue.toDouble, Long.MinValue.toDouble))
      case PqFloat | PqDouble => Gen.frequency(4 -> Gen.oneOf(Special ++ Huge),
        3 -> Gen.choose(-40, 40).map(_.toDouble), 3 -> Gen.choose(-5.0, 5.0))
    }
    for {
      poolSize <- Gen.oneOf(1, 3, 8, 30)
      pool <- Gen.listOfN(poolSize, values)
      missingRate <- Gen.oneOf(0.0, 0.0, 0.1, 0.5, 1.0)
      cells <- Gen.listOfN(rows, for {
        u <- Gen.choose(0.0, 1.0)
        nan <- Gen.oneOf(true, false)
        x <- Gen.oneOf(pool)
      } yield
        if (u >= missingRate) ty.cell(x)
        else if (nan && (ty == PqDouble || ty == PqFloat)) ty.cell(Double.NaN)
        else null)
    } yield cells.toVector
  }

  val genParquetTrial: Gen[ParquetTrial] = for {
    nCols <- Gen.choose(1, 4)
    types <- Gen.listOfN(nCols, Gen.oneOf(PqDouble, PqFloat, PqInt, PqLong))
    rows <- Gen.frequency(1 -> Gen.choose(0, 5), 3 -> Gen.choose(20, 300), 2 -> Gen.choose(600, 1500))
    cells <- Gen.sequence[List[Vector[Any]], Vector[Any]](types.map(genPqColumn(rows, _)))
    bad <- Gen.oneOf(0.0, 0.0, 0.005, 0.05)
    nulls <- Gen.oneOf(0.0, 0.0, 0.005, 0.05)
    target <- Gen.listOfN(rows, Gen.choose(0.0, 1.0).flatMap(u =>
      if (u < bad) Gen.oneOf(2, -1).map(Some(_))
      else if (u < bad + nulls) Gen.const(None)
      else Gen.oneOf(0, 1).map(Some(_))))
    batchSize <- Gen.oneOf(7, 64, 4096)
    maxPartitionBytes <- Gen.oneOf(1024L, 128L << 20)
  } yield ParquetTrial(types.zip(cells), target.toVector, batchSize, maxPartitionBytes)

  final case class ParquetCoverage(
      types: Set[PqType] = Set.empty,
      signedZeros: Int = 0,
      nan: Int = 0,
      nulls: Int = 0,
      infinite: Int = 0,
      badTarget: Int = 0,
      nullTarget: Int = 0,
      cleanTarget: Int = 0,
      plainChunks: Int = 0,
      mixedChunks: Int = 0,
      multiGroupDictFiles: Int = 0,
      batchSizes: Set[Int] = Set.empty) {
    def add(t: ParquetTrial, files: Seq[(Int, Seq[(Boolean, Boolean)])]): ParquetCoverage = {
      def asDouble(x: Any): Double = x match {
        case f: Float => f.toDouble
        case d: Double => d
        case _ => 0.0
      }
      val floats = t.cols.filter(c => c._1 == PqDouble || c._1 == PqFloat).map(_._2.filter(_ != null))
      def count(p: Vector[Any] => Boolean) = floats.count(p)
      val chunks = files.flatMap(_._2)
      copy(
        types = types ++ t.cols.map(_._1),
        signedZeros = signedZeros + count(c => c.exists(x => doubleToLongBits(asDouble(x)) ==
          doubleToLongBits(-0.0)) && c.exists(x => doubleToLongBits(asDouble(x)) == 0L)),
        nan = nan + count(_.exists(x => asDouble(x).isNaN)),
        nulls = nulls + t.cols.count(_._2.contains(null)),
        infinite = infinite + count(_.exists(x => asDouble(x).isInfinite)),
        badTarget = badTarget + (if (t.target.exists(_.exists(x => x != 0 && x != 1))) 1 else 0),
        nullTarget = nullTarget + (if (t.target.contains(None)) 1 else 0),
        cleanTarget = cleanTarget + (if (t.target.nonEmpty &&
          t.target.forall(x => x.contains(0) || x.contains(1))) 1 else 0),
        plainChunks = plainChunks + chunks.count(c => !c._1 && c._2),
        mixedChunks = mixedChunks + chunks.count(c => c._1 && c._2),
        multiGroupDictFiles = multiGroupDictFiles + files.count(f => f._1 > 1 && f._2.exists(_._1)),
        batchSizes = batchSizes + t.batchSize)
    }
  }
}
