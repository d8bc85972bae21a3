package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.WoeBin
import graft.functions.WoeChain
import graft.spark.{WoeBinning, WoeBinningModel}

/** `WoeBinningModel.transform` scores each variable with one
  * `graft.functions.WoeLookup` expression.  Its output must equal, cell
  * for cell and bit for bit, the per-variable `when`-chain that the
  * transform compiled to before ([[WoeLookupSpec.whenChain]], kept here
  * as the oracle), with the same output schema, nullability included.
  *
  * Each check runs under three evaluation paths: whole-stage codegen;
  * per-operator codegen (`spark.sql.codegen.wholeStage=false`); and
  * the interpreted `eval` (`spark.sql.codegen.factoryMode=NO_CODEGEN`
  * with whole-stage codegen off).  Chains and frames come from
  * `ImputationSpec`'s generators on fixed seeds; a failure names its
  * seed and path.
  */
class WoeLookupSpec extends AnyFunSuite {
  import ImputationSpec._
  import WoeLookupSpec._
  private lazy val spark = TestSpark.spark

  private val paths: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Nil,
    "per-operator codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted eval" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[A](confs: Seq[(String, String)])(body: => A): A = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Hand-built bins over 1–4 variables of any shape; every variable
    * passes `transform`'s filters at `binThreshold = 1` without the
    * IV-equality dedup, so all of them are scored.
    */
  private def genModel(nVars: Int): Gen[(Seq[String], Seq[Shape], Seq[Vector[WoeBin]])] = for {
    shapes <- Gen.listOfN(nVars, Gen.oneOf(Ascending, Descending, Unordered))
    names = (0 until nVars).map(i => s"x$i")
    bins <- Gen.sequence[List[Vector[WoeBin]], Vector[WoeBin]](
      names.zip(shapes).map { case (v, s) => genBins(v, s) })
  } yield (names, shapes, bins)

  private val genTrial: Gen[(Seq[String], Seq[Shape], Seq[Vector[WoeBin]],
      Seq[Vector[Option[Double]]], Int)] = for {
    nVars <- Gen.choose(1, 4)
    (names, shapes, bins) <- genModel(nVars)
    rows <- genRows
    cols <- Gen.sequence[List[Vector[Option[Double]]], Vector[Option[Double]]](
      bins.map(genColumn(rows, _)))
    partitions <- Gen.choose(1, 8)
  } yield (names, shapes, bins, cols, partitions)

  /** `transform` against the oracle chains imputing the exact median,
    * under every evaluation path.
    */
  private def check(names: Seq[String], bins: Seq[Vector[WoeBin]], df: DataFrame,
      what: String): Unit = {
    val model = new WoeBinningModel(names.zip(bins))
    for ((path, confs) <- paths) withConfs(confs) {
      val got = model.transform(df, binThreshold = 1, remove100Corr = false)
      val medians = WoeBinning.exactMedians(df, names)
      val want = df.select(names.zip(bins).map { case (v, bs) =>
        whenChain(v, bs, medians(v)).as(v + "_bin")
      }: _*)
      assert(got.schema == want.schema, s"$what, $path: schema")
      sameCells(got.collect(), want.collect()).foreach(msg => fail(s"$what, $path: $msg"))
    }
  }

  test("lookup == when-chain oracle, cell for cell, on every evaluation path") {
    val (shapes, cells) = (1L to 40L).foldLeft((Set.empty[Shape], Set.empty[String])) {
      case ((shapes, cells), seed) =>
        val (names, sh, bins, cols, partitions) =
          genTrial.pureApply(Gen.Parameters.default, Seed(seed))
        check(names, bins, frame(names, cols, partitions), s"seed $seed")
        val flat = cols.flatten
        (shapes ++ sh, cells ++ Seq(
          "null" -> flat.contains(None),
          "NaN" -> flat.exists(_.exists(_.isNaN)),
          "huge" -> flat.exists(_.exists(x => math.abs(x) > Double.MaxValue / 2)),
          "all missing" -> cols.exists(_.forall(_.forall(_.isNaN)))).collect {
          case (k, true) => k
        })
    }
    assert(shapes == Set(Ascending, Descending, Unordered))
    assert(cells == Set("null", "NaN", "huge", "all missing"), cells)
  }

  test("lookup == when-chain oracle on every cut point, its neighbours and special values") {
    // one column per variable holding every edge value, ±0.0, ±inf,
    // values near ±Double.MaxValue, NaN and null: each chain sees all
    // of its boundaries, in each evaluation path
    (101L to 115L).foreach { seed =>
      val (names, _, bins) = genModel(3).pureApply(Gen.Parameters.default, Seed(seed))
      val values = bins.map { bs =>
        (edgeValues(bs) ++ Special ++ Huge).map(Some(_)) ++ Seq(Some(Double.NaN), None)
      }
      val rows = values.map(_.length).max
      val cols = values.map(v => Vector.tabulate(rows)(r => v(r % v.length)))
      check(names, bins, frame(names, cols, 3), s"seed $seed")
    }
  }
}

object WoeLookupSpec {
  /** The per-variable `when`-chain `WoeBinningModel.transform` compiled
    * to before `WoeLookup` (binning.py:283-303): NaN → null → median,
    * then one branch per bin, then NaN for a NaN base.  Test-only.
    */
  def whenChain(variable: String, bs: Vector[WoeBin], med: Double): Column = {
    val WoeChain(cuts, labels, rightClosed) = WoeChain(bs)
    val raw = col(variable).cast(DoubleType)
    val base = coalesce(when(isnan(raw), lit(null)).otherwise(raw), lit(med))
    val chain = labels.indices.dropRight(1).foldLeft(Option.empty[Column]) {
      case (acc, k) =>
        val cond =
          if (rightClosed) base <= lit(cuts(k + 1))
          else base < lit(cuts(k + 1))
        Some(acc.fold(when(cond, lit(labels(k))))(_.when(cond, lit(labels(k)))))
    }
    val binned = chain.fold(lit(labels.last))(_.otherwise(lit(labels.last)))
    when(base.isNull || isnan(base), lit(Double.NaN)).otherwise(binned)
  }
}
