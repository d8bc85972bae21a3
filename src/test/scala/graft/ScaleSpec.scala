package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.spark.{WoeBinning, WoeFitOptions}

/** The 100 TB scale path: quantile pre-binning (maxDistinct) bounds
  * the collected stats while preserving binning quality.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sf0001 = TestSpark.lcgFrame("/root/testdata/sf0.001").cache()

  test("preBin caps distinct values at the quantile budget") {
    val pre = WoeBinning.preBin(sf0001, Seq("extendedprice"), 200)
    val n = pre.select(countDistinct("extendedprice")).head().getLong(0)
    assert(n <= 200, s"$n distinct after preBin(200)")
    assert(n > 150, s"suspiciously few distinct values: $n")
    // row count and target untouched
    assert(pre.count() == 6000)
  }

  test("prebinned fit stays close to exact fit (IV within 15%)") {
    val exact = WoeBinning.fit(sf0001, "target", Seq("extendedprice"),
      WoeFitOptions(nThreshold = Some(300)))
    val pre = WoeBinning.fit(sf0001, "target", Seq("extendedprice"),
      WoeFitOptions(nThreshold = Some(300), maxDistinct = Some(200)))
    def iv(m: graft.spark.WoeBinningModel) =
      m.bins("extendedprice").map(_.ivComponents).sum
    val (ivExact, ivPre) = (iv(exact), iv(pre))
    assert(math.abs(ivPre - ivExact) / ivExact < 0.15,
      s"IV drift: exact $ivExact vs prebinned $ivPre")
    // structural invariants hold on the approximate path too
    val bins = pre.bins("extendedprice")
    assert(bins.map(_.size).sum == 6000.0)
    bins.map(_.mean).sliding(2).foreach {
      case Vector(a, b) => assert(b < a, "bad-rate monotonicity lost")
      case _ =>
    }
  }

  test("fit on an all-null column yields a single NaN bin (graceful divergence)") {
    val df = sf0001.withColumn("allnull", lit(null).cast("double"))
    val m = WoeBinning.fit(df, "target", Seq("allnull"),
      WoeFitOptions(nThreshold = Some(300)))
    val bins = m.bins("allnull")
    assert(bins.length == 1)
    assert(bins(0).intervalStartInclude.isNaN)
    assert(bins(0).size == 6000.0)
  }

  test("null target values fail fast with a clear message") {
    val df = sf0001.withColumn("target",
      when(col("quantity") === 1.0, lit(null)).otherwise(col("target")))
    val e = intercept[IllegalArgumentException] {
      WoeBinning.fit(df, "target", Seq("extendedprice"),
        WoeFitOptions(nThreshold = Some(300)))
    }
    assert(e.getMessage.contains("target contains nulls"))
  }

  test("NaN target fails fast with the 0/1 message, not a raw ANSI cast error") {
    // ADVICE r01: cast(NaN as bigint) throws ArithmeticException under
    // Spark 4 ANSI mode before the friendly guard unless the cast is
    // NaN-guarded
    val df = sf0001.withColumn("target",
      when(col("quantity") === 1.0, lit(Double.NaN)).otherwise(col("target").cast("double")))
    val e = intercept[IllegalArgumentException] {
      WoeBinning.fit(df, "target", Seq("extendedprice"),
        WoeFitOptions(nThreshold = Some(300)))
    }
    assert(e.getMessage.contains("must be 0/1"))
  }

  test("Infinity target fails fast with the 0/1 message, not a raw ANSI cast error") {
    // ADVICE r02: isnan(Infinity) is false, so a NaN-only guard still
    // lets cast(Infinity as bigint) throw under ANSI mode; only
    // in-domain values may reach the cast
    val df = sf0001.withColumn("target",
      when(col("quantity") === 1.0, lit(Double.PositiveInfinity))
        .otherwise(col("target").cast("double")))
    val e = intercept[IllegalArgumentException] {
      WoeBinning.fit(df, "target", Seq("extendedprice"),
        WoeFitOptions(nThreshold = Some(300)))
    }
    assert(e.getMessage.contains("must be 0/1"))
  }

  test("non-0/1 target fails fast (integer-stats design would truncate)") {
    val df = sf0001.withColumn("target",
      when(col("quantity") === 1.0, lit(0.5)).otherwise(col("target").cast("double")))
    val e = intercept[IllegalArgumentException] {
      WoeBinning.fit(df, "target", Seq("extendedprice"),
        WoeFitOptions(nThreshold = Some(300)))
    }
    assert(e.getMessage.contains("must be 0/1"))
  }

  test("transform of an all-null apply column yields NaN, not the last bin") {
    val m = WoeBinning.fit(sf0001, "target", Seq("extendedprice"),
      WoeFitOptions(nThreshold = Some(300)))
    val applyDf = sf0001.withColumn("extendedprice", lit(null).cast("double"))
    val out = m.transform(applyDf)
    val r = out.agg(
      count(lit(1)), count(when(isnan(col("extendedprice_bin")), 1))).head()
    assert(r.getLong(0) == 6000L && r.getLong(1) == 6000L,
      "every imputed-with-NaN row must map to NaN like pd.cut")
  }

  test("sentinel with absent sep_value fails fast with a clear message") {
    val e = intercept[IllegalArgumentException] {
      WoeBinning.fit(sf0001, "target", Seq("quantity"),
        WoeFitOptions(nThreshold = Some(60), sepValue = Some(-999.0)))
    }
    assert(e.getMessage.contains("sep_value"))
  }

  // a column listed twice would be counted twice: the melt stacks it
  // once per listing, doubling its rows and its target sum
  private val dupCols = Seq("quantity", "discount", "quantity")

  test("duplicate inputCols fail fast in fit, naming the column") {
    val e = intercept[IllegalArgumentException] {
      WoeBinning.fit(sf0001, "target", dupCols, WoeFitOptions(nThreshold = Some(300)))
    }
    assert(e.getMessage.contains("input column 'quantity' is listed more than once"))
  }

  test("duplicate inputCols fail fast in fitByGroup, naming the column") {
    val e = intercept[IllegalArgumentException] {
      WoeBinning.fitByGroup(sf0001.withColumn("g", col("quantity") % 2), "target",
        dupCols, "g", WoeFitOptions(nThreshold = Some(300)))
    }
    assert(e.getMessage.contains("input column 'quantity' is listed more than once"))
  }

  test("duplicate inputCols fail fast in fitStream, before the query starts") {
    val stream = spark.readStream.format("rate").load()
      .select(col("value").cast("double").as("quantity"),
        col("value").cast("double").as("discount"), (col("value") % 2).as("target"))
    val e = intercept[IllegalArgumentException] {
      graft.ops.StreamingWoe.fitStream(stream, "target", dupCols,
        graft.core.WoeConfig(nThreshold = 300))((_, _) => ())
    }
    assert(e.getMessage.contains("input column 'quantity' is listed more than once"))
  }
}
