package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, isnan, lit}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.{Kernels, WoeBin}
import graft.spark.{WoeBinning, WoeBinningModel, WoeFitOptions}

/** `WoeBinningModel.transform` on a frame that is not the fit frame
  * imputes missing cells through the per-bin imputation pass.  Its
  * output must equal, cell for cell and bit for bit, the reference
  * semantics: `coalesce(value, exact median of the apply frame)`
  * through the same chain (`transformExactMedians`, with
  * `WoeBinning.exactMedians` as the oracle, itself checked against the
  * melt it replaced, `meltMedians`).
  *
  * Frames come from ScalaCheck generators run on fixed seeds; a
  * failure names its seed.  Values mix nulls, NaN, cut points and their
  * neighbouring doubles, ±0.0, ±inf, values near ±Double.MaxValue (the
  * overflow fallback), and few-valued pools that put the two middle
  * ranks in different bins with empty bins between them; row counts
  * run from 1 to 400 over more partitions than rows (empty partitions).
  */
class ImputationSpec extends AnyFunSuite {
  import ImputationSpec._
  private lazy val spark = TestSpark.spark

  private val genOptions: Gen[(Int, Boolean, Boolean, Int)] = for {
    partitions <- Gen.choose(1, 8)
    exactSchema <- Gen.oneOf(true, false)
    remove100Corr <- Gen.oneOf(true, false)
    binThreshold <- Gen.oneOf(1, 2)
  } yield (partitions, exactSchema, remove100Corr, binThreshold)

  /** A model of hand-built bins over 1–3 variables. */
  private val genHandBuilt: Gen[Trial] = for {
    nVars <- Gen.choose(1, 3)
    names = (0 until nVars).map(i => s"x$i")
    shapes <- Gen.listOfN(nVars, Gen.oneOf(Ascending, Descending, Unordered))
    bins <- Gen.sequence[List[Vector[WoeBin]], Vector[WoeBin]](
      names.zip(shapes).map { case (v, s) => genBins(v, s) })
    rows <- genRows
    cols <- Gen.sequence[List[Vector[Option[Double]]], Vector[Option[Double]]](
      bins.map(genColumn(rows, _)))
    (partitions, exactSchema, remove100Corr, binThreshold) <- genOptions
  } yield Trial(new WoeBinningModel(names.zip(bins)), frame(names, cols, partitions),
    shapes, sentinel = false, cols, partitions, exactSchema, remove100Corr, binThreshold)

  /** A `sepValue` fit (sentinel bins stitched above or below the rest),
    * applied to a new frame drawn around its cuts.
    */
  private val genSentinel: Gen[Trial] = for {
    sep <- Gen.oneOf(-1.0, 99.0)
    rising <- Gen.oneOf(true, false) // bad rate up or down in x
    fitRows <- Gen.choose(60, 200)
    fitCells <- Gen.listOfN(fitRows, for {
      x <- Gen.frequency(1 -> Gen.const(sep), 6 -> Gen.choose(0, 20).map(_.toDouble),
        1 -> Gen.const(Double.NaN))
      u <- Gen.choose(0.0, 1.0)
    } yield {
      val rate = if (x.isNaN || x == sep) 0.5 else (x + 2) / 30.0
      (x, if (u < (if (rising) rate else 1 - rate)) 1.0 else 0.0)
    })
    rows <- genRows
    (partitions, exactSchema, remove100Corr, binThreshold) <- genOptions
    seed <- Gen.long
  } yield {
    val fitDf = spark.createDataFrame(
      fitCells.map { case (x, t) => (x, t) } :+ ((sep, 1.0)) :+ ((sep, 0.0)) :+ ((5.0, 1.0)))
      .toDF("x", "target")
    val model = WoeBinning.fit(fitDf, "target", Seq("x"),
      WoeFitOptions(nThreshold = Some(5), sepValue = Some(sep)))
    val cols = Seq(genColumn(rows, model.bins("x")).pureApply(Gen.Parameters.default, Seed(seed)))
    Trial(model, frame(Seq("x"), cols, partitions), Nil, sentinel = true,
      cols, partitions, exactSchema, remove100Corr, binThreshold)
  }

  private def check(trial: Trial, seed: Long, cov: Coverage): Coverage = {
    import trial._
    def run(f: (DataFrame, Double, Int, Boolean, Boolean, Boolean) => DataFrame) =
      f(df, 0.02, binThreshold, remove100Corr, false, exactSchema).collect()
    val got = run(model.transform)
    val want = run(model.transformExactMedians)
    sameCells(got, want).foreach { msg =>
      fail(s"seed $seed (shapes $shapes, sentinel $sentinel, exactSchema $exactSchema, " +
        s"partitions $partitions): $msg")
    }
    val present = cols.map(_.flatten.filterNot(_.isNaN))
    cov.copy(
      shapes = cov.shapes ++ shapes,
      sentinel = cov.sentinel + (if (sentinel) 1 else 0),
      huge = cov.huge + present.count(_.exists(x => math.abs(x) > Double.MaxValue / 2)),
      straddle = cov.straddle + present.count(_.distinct.length >= 2),
      oddEven = cov.oddEven ++ present.filter(_.nonEmpty).map(_.length % 2),
      allMissing = cov.allMissing + present.count(_.isEmpty),
      noMissing = cov.noMissing + cols.count(_.forall(_.exists(!_.isNaN))),
      oneRow = cov.oneRow + (if (cols.head.length == 1) 1 else 0),
      emptyPartition = cov.emptyPartition + (if (cols.head.length < partitions) 1 else 0))
  }

  test("imputation pass == exact-median imputation, cell for cell (hand-built chains)") {
    val cov = (1L to 120L).foldLeft(Coverage()) { (cov, seed) =>
      check(genHandBuilt.pureApply(Gen.Parameters.default, Seed(seed)), seed, cov)
    }
    info(cov.toString)
    assert(cov.shapes == Set(Ascending, Descending, Unordered), cov)
    assert(cov.huge > 0 && cov.straddle > 0 && cov.oddEven == Set(0, 1), cov)
    assert(cov.allMissing > 0 && cov.noMissing > 0 && cov.oneRow > 0, cov)
    assert(cov.emptyPartition > 0, cov)
  }

  test("imputation pass == exact-median imputation, cell for cell (sepValue fits)") {
    val cov = (1001L to 1030L).foldLeft(Coverage()) { (cov, seed) =>
      check(genSentinel.pureApply(Gen.Parameters.default, Seed(seed)), seed, cov)
    }
    info(cov.toString)
    assert(cov.sentinel == 30, cov)
  }

  test("exactMedians == the melt medians it replaced, bit for bit (generated frames)") {
    var cov = MedianCoverage()
    for (seed <- 1L to 80L) {
      val t = genHandBuilt.pureApply(Gen.Parameters.default, Seed(seed))
      val names = t.model.fitted.map(_._1)
      val got = WoeBinning.exactMedians(t.df, names)
      val want = meltMedians(t.df, names)
      assert(got.keySet == want.keySet, s"seed $seed")
      names.foreach { v =>
        assert(java.lang.Double.doubleToLongBits(got(v)) ==
          java.lang.Double.doubleToLongBits(want(v)),
          s"seed $seed, $v (partitions ${t.partitions}): ${got(v)} vs melt ${want(v)}")
      }
      val present = t.cols.map(_.flatten.filterNot(_.isNaN))
      cov = cov.copy(
        negZero = cov.negZero + present.count(_.exists(x =>
          java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(-0.0))),
        nan = cov.nan + t.cols.count(_.exists(_.exists(_.isNaN))),
        nulls = cov.nulls + t.cols.count(_.contains(None)),
        infinite = cov.infinite + present.count(_.exists(_.isInfinite)),
        huge = cov.huge + present.count(_.exists(x => !x.isInfinite && math.abs(x) > Double.MaxValue / 2)),
        allMissing = cov.allMissing + present.count(_.isEmpty),
        oddEven = cov.oddEven ++ present.filter(_.nonEmpty).map(_.length % 2))
    }
    info(cov.toString)
    assert(cov.negZero > 0 && cov.nan > 0 && cov.nulls > 0, cov)
    assert(cov.infinite > 0 && cov.huge > 0 && cov.allMissing > 0 && cov.oddEven == Set(0, 1), cov)
    // an empty frame has no values: NaN, as the melt gives
    val empty = frame(Seq("x", "y"), Seq(Vector.empty, Vector.empty), 3)
    for (m <- Seq(WoeBinning.exactMedians(empty, Seq("x", "y")), meltMedians(empty, Seq("x", "y"))))
      assert(m.keySet == Set("x", "y") && m.values.forall(_.isNaN), m)
  }

  test("imputation value: both middle ranks in one leaf near Double.MaxValue") {
    // the middle pair of one leaf can overflow: MaxValue + MaxValue is
    // +inf, and -inf + +inf is NaN, so the exact median of a one-leaf
    // chain over {-inf, +inf} is NaN and its missing cell gets NaN, not
    // the leaf's label.  Such columns take the exact medians job.
    val two = Vector(bin("x", Double.NegativeInfinity, 0.0, -1.0, 0.5),
      bin("x", 0.0, Double.PositiveInfinity, 1.0, 0.5))
    val one = Vector(bin("x", Double.NegativeInfinity, Double.PositiveInfinity, 1.0, 0.5))
    for ((bs, vals, missingLabel) <- Seq(
        (two, Seq(Double.MaxValue, Double.MaxValue), 1.0),
        (two, Seq(Double.NegativeInfinity, Double.PositiveInfinity), Double.NaN),
        (one, Seq(Double.NegativeInfinity, Double.PositiveInfinity), Double.NaN),
        (one, Seq(-Double.MaxValue, Double.MaxValue), 1.0))) {
      val model = new WoeBinningModel(Seq("x" -> bs))
      val df = frame(Seq("x"), Seq((vals.map(Some(_)) :+ None).toVector), 2)
      val got = model.transform(df, binThreshold = 1).collect()
      val want = model.transformExactMedians(df, binThreshold = 1).collect()
      assert(sameCells(got, want).isEmpty, vals)
      assert(java.lang.Double.doubleToLongBits(got.last.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(missingLabel), vals)
    }
  }
}

object ImputationSpec {
  /** The melt `WoeBinning.exactMedians` ran before it read the fit's
    * stats pass, kept as its oracle: `stack` → per-(variable, value)
    * counts (one shuffle) → unsorted typed collect → driver sort and
    * `Kernels.exactMedian` over the grouped counts.
    */
  def meltMedians(df: DataFrame, cols: Seq[String]): Map[String, Double] = {
    val stackExpr = s"stack(${cols.length}, " +
      cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ") +
      ") as (variable, value)"
    import df.sparkSession.implicits._
    val grouped = df.selectExpr(stackExpr)
      .where(col("value").isNotNull && !isnan(col("value")))
      .groupBy("variable", "value")
      .agg(count(lit(1)).as("cnt"))
      .as[(String, Double, Long)]
      .collect()
    val byVar = grouped.groupBy(_._1)
    cols.map { c =>
      c -> byVar.get(c).fold(Double.NaN) { rows =>
        Kernels.exactMedian(rows.iterator.map(t => (t._2, t._3, 0L)).toVector.sortBy(_._1))
      }
    }.toMap
  }

  final case class MedianCoverage(
      negZero: Int = 0,
      nan: Int = 0,
      nulls: Int = 0,
      infinite: Int = 0,
      huge: Int = 0,
      allMissing: Int = 0,
      oddEven: Set[Int] = Set.empty)

  /** Generators and helpers shared with `WoeLookupSpec`. */
  val Huge = Seq(Double.MaxValue, -Double.MaxValue, Double.MaxValue * 0.75,
    -Double.MaxValue * 0.75, Math.nextUp(Double.MaxValue / 2), Double.MaxValue / 4)
  val Special = Seq(0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue)

  val genCut: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-50, 50).map(_.toDouble),
    3 -> Gen.choose(-50.0, 50.0),
    1 -> Gen.oneOf(0.0, -0.0, Double.MaxValue / 4, -Double.MaxValue / 4))

  def bin(v: String, lo: Double, hi: Double, woe: Double, iv: Double) =
    WoeBin(v, lo, hi, 10, 0.5, 5, 5, 0.1, 0.1, woe, iv)

  /** Hand-built bins of one variable: k complete bins of `shape`,
    * sometimes with a trailing NaN row, labels possibly repeated.
    */
  def genBins(v: String, shape: Shape): Gen[Vector[WoeBin]] = for {
    k <- Gen.choose(1, 5)
    raw <- Gen.listOfN(k - 1, genCut)
    woes <- Gen.listOfN(k, Gen.oneOf(Gen.choose(-3.0, 3.0), Gen.const(0.5)))
    iv <- Gen.choose(0.05, 2.0)
    nanRow <- Gen.oneOf(true, false)
    keys <- Gen.listOfN(k - 1, Gen.choose(0.0, 1.0))
  } yield {
    val inner = raw.distinct.sorted.toVector
    val cuts: Vector[Double] = shape match {
      case Ascending => Double.NegativeInfinity +: inner :+ Double.PositiveInfinity
      case Descending => Double.PositiveInfinity +: inner.reverse :+ Double.NegativeInfinity
      case Unordered if inner.nonEmpty =>
        val mixed = inner.zip(keys).sortBy(_._2).map(_._1)
        mixed.head +: mixed :+ mixed.last
      case Unordered => Vector(Double.NegativeInfinity, Double.PositiveInfinity)
    }
    val n = cuts.length - 1
    val complete = (0 until n).map { i =>
      bin(v, cuts(i), cuts(i + 1), woes(i % woes.length), iv / n)
    }.toVector
    if (nanRow) complete :+ bin(v, Double.NaN, Double.NaN, 1.25, Double.NaN)
    else complete
  }

  /** The finite cut points of `bs` and their neighbouring doubles. */
  def edgeValues(bs: Vector[WoeBin]): Seq[Double] =
    bs.flatMap(b => Seq(b.intervalStartInclude, b.intervalEndExclude))
      .filter(x => !x.isNaN && !x.isInfinite)
      .flatMap(c => Seq(c, Math.nextUp(c), Math.nextDown(c)))

  /** One column: a small pool of values (so middle ranks often fall
    * in different, non-adjacent bins), drawn with a missing rate.
    */
  def genColumn(rows: Int, bs: Vector[WoeBin]): Gen[Vector[Option[Double]]] = {
    val cands = edgeValues(bs) ++ Special ++ Huge
    for {
      poolSize <- Gen.choose(1, 6)
      pool <- Gen.listOfN(poolSize,
        Gen.frequency(5 -> Gen.oneOf(cands), 3 -> Gen.choose(-60.0, 60.0)))
      missingRate <- Gen.oneOf(0.0, 0.0, 0.2, 0.5, 1.0)
      cells <- Gen.listOfN(rows, for {
        u <- Gen.choose(0.0, 1.0)
        nan <- Gen.oneOf(true, false)
        x <- Gen.oneOf(pool)
      } yield if (u < missingRate) (if (nan) Some(Double.NaN) else None) else Some(x))
    } yield cells.toVector
  }

  def frame(names: Seq[String], cols: Seq[Vector[Option[Double]]],
      partitions: Int): DataFrame = {
    val spark = TestSpark.spark
    val rows = cols.head.indices.map(r => Row(cols.map(_(r).getOrElse(null)): _*))
    val schema = StructType(names.map(StructField(_, DoubleType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
  }

  val genRows: Gen[Int] =
    Gen.frequency(3 -> Gen.choose(1, 4), 4 -> Gen.choose(5, 60), 2 -> Gen.choose(61, 400))

  def sameCells(got: Array[Row], want: Array[Row]): Option[String] = {
    if (got.length != want.length) return Some(s"${got.length} rows vs ${want.length}")
    got.indices.iterator.flatMap { r =>
      (0 until want(r).length).iterator.collect {
        case c if got(r).isNullAt(c) != want(r).isNullAt(c) ||
            (!want(r).isNullAt(c) && java.lang.Double.doubleToLongBits(got(r).getDouble(c)) !=
              java.lang.Double.doubleToLongBits(want(r).getDouble(c))) =>
          s"row $r col $c: ${got(r).get(c)} vs oracle ${want(r).get(c)}"
      }
    }.nextOption()
  }

  /** Chain shapes: the layouts a fit produces in both orientations,
    * and cut lists in arbitrary order like a sentinel stitch can give.
    */
  sealed trait Shape
  case object Ascending extends Shape
  case object Descending extends Shape
  case object Unordered extends Shape

  final case class Coverage(
      shapes: Set[Shape] = Set.empty,
      sentinel: Int = 0,
      huge: Int = 0,
      straddle: Int = 0,
      oddEven: Set[Int] = Set.empty,
      allMissing: Int = 0,
      noMissing: Int = 0,
      oneRow: Int = 0,
      emptyPartition: Int = 0)

  final case class Trial(
      model: WoeBinningModel,
      df: DataFrame,
      shapes: Seq[Shape],
      sentinel: Boolean,
      cols: Seq[Vector[Option[Double]]],
      partitions: Int,
      exactSchema: Boolean,
      remove100Corr: Boolean,
      binThreshold: Int)
}
