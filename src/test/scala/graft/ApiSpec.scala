package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.WoeMonotonicBinning
import graft.spark.{WoeBinning, WoeBinningEstimator, WoeBinningTransformer, WoeFitOptions}

/** Reference-API façade + MLlib pipeline wrapper tests. */
class ApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sf0001 = TestSpark.lcgFrame("/root/testdata/sf0.001").cache()

  private def assertBinsDfMatches(got: org.apache.spark.sql.DataFrame, fixture: String): Unit = {
    val exp = Golden.load(fixture)
    val rows = got.collect()
    assert(rows.length == exp.rows.length, s"$fixture rows ${rows.length} vs ${exp.rows.length}")
    rows.zip(exp.rows).zipWithIndex.foreach { case ((r, e), i) =>
      assert(r.getString(0) == e(0).toString)
      (1 to 10).foreach { j =>
        val g = if (r.isNullAt(j)) Double.NaN else r.getDouble(j)
        val x = e(j) match {
          case d: Double => d
          case null => Double.NaN
          case o => o.toString.toDouble
        }
        assert(Golden.approxEq(g, x), s"$fixture row $i col $j: $g vs $x")
      }
    }
  }

  test("woeBinning façade: sort_overload=True collapses descending data (quirk #3)") {
    val out = WoeMonotonicBinning.woeBinning(
      sf0001.select("target", "extendedprice"), "target",
      nThreshold = 300, sortOverload = Some(true))
    assertBinsDfMatches(out, "sf0.001_extendedprice_n300_overloadT.json")
  }

  test("woeBinning façade: sort_overload=Some(false) is a no-op (falsy quirk)") {
    val auto = WoeMonotonicBinning.woeBinning(
      sf0001.select("target", "extendedprice"), "target", nThreshold = 300)
    val falsy = WoeMonotonicBinning.woeBinning(
      sf0001.select("target", "extendedprice"), "target", nThreshold = 300,
      sortOverload = Some(false))
    assert(auto.collect().toSeq == falsy.collect().toSeq)
  }

  test("mergeBins façade: span-sum / listed-drop quirk on [2,4]") {
    val base = WoeMonotonicBinning.woeBinning(
      sf0001.select("target", "extendedprice"), "target", nThreshold = 300)
    val merged = WoeMonotonicBinning.mergeBins(base, Seq(2, 4))
    assertBinsDfMatches(merged, "sf0.001_extendedprice_n300_mergebins24.json")
  }

  test("applyBins(is_df) over the stacked frame == model.transform") {
    val model = WoeBinning.fit(sf0001, "target",
      Seq("extendedprice", "quantity", "discount"),
      WoeFitOptions(nThreshold = Some(300)))
    val viaDf = WoeMonotonicBinning.applyBins(sf0001, model.binsDf(spark))
    val direct = model.transform(sf0001)
    assert(viaDf.columns.toSeq == direct.columns.toSeq)
    val a = viaDf.agg(sum(col("extendedprice_bin"))).head().getDouble(0)
    val b = direct.agg(sum(col("extendedprice_bin"))).head().getDouble(0)
    assert(a == b)
  }

  test("batchWoeBinning defaults to ceil(N/20) like the reference") {
    val viaDefault = WoeMonotonicBinning.batchWoeBinning(
      sf0001.select("target", "extendedprice"), "target")
    val explicit = WoeMonotonicBinning.woeBinning(
      sf0001.select("target", "extendedprice"), "target", nThreshold = 300)
    assert(viaDefault.collect().toSeq == explicit.collect().toSeq) // ceil(6000/20)=300
  }

  test("MLlib estimator/transformer: pipeline fit, transform, persistence") {
    val est = new WoeBinningEstimator()
      .setTargetCol("target")
      .setInputCols(Array("extendedprice", "quantity", "discount"))
      .setNThreshold(300)
    val model = est.fit(sf0001)
    val out = model.transform(sf0001)
    assert(out.columns.toSeq == Seq("extendedprice_bin"))
    assert(out.count() == 6000)
    // pipeline composition
    val pipe = new org.apache.spark.ml.Pipeline().setStages(Array(est))
    val pm = pipe.fit(sf0001)
    assert(pm.transform(sf0001).columns.toSeq == Seq("extendedprice_bin"))
    // persistence round-trip
    val path = "/tmp/graft-mllib-model"
    model.write.overwrite().save(path)
    val loaded = WoeBinningTransformer.load(path)
    assert(loaded.core.fitted.map(_._1) == model.core.fitted.map(_._1))
    val s1 = model.transform(sf0001).agg(sum("extendedprice_bin")).head().getDouble(0)
    val s2 = loaded.transform(sf0001).agg(sum("extendedprice_bin")).head().getDouble(0)
    assert(s1 == s2)
  }

  test("fitted PipelineModel save/load round-trips (standard stage metadata)") {
    val est = new WoeBinningEstimator()
      .setTargetCol("target")
      .setInputCols(Array("extendedprice"))
      .setNThreshold(300)
    val pm = new org.apache.spark.ml.Pipeline().setStages(Array(est)).fit(sf0001)
    val path = "/tmp/graft-pipeline-model"
    pm.write.overwrite().save(path)
    val loaded = org.apache.spark.ml.PipelineModel.load(path)
    val s1 = pm.transform(sf0001).agg(sum("extendedprice_bin")).head().getDouble(0)
    val s2 = loaded.transform(sf0001).agg(sum("extendedprice_bin")).head().getDouble(0)
    assert(s1 == s2)
  }

  test("applyBins(is_df) detects a bins frame whose row order was lost") {
    val model = WoeBinning.fit(sf0001, "target", Seq("extendedprice"),
      WoeFitOptions(nThreshold = Some(300)))
    // |woe| interleaves the ends of the U-shaped woe profile → the
    // start sequence is no longer monotone in either direction
    val shuffled = model.binsDf(spark).orderBy(abs(col("woe")))
    val e = intercept[IllegalArgumentException] {
      WoeMonotonicBinning.applyBins(sf0001, shuffled)
    }
    assert(e.getMessage.contains("not in bin order"))
    // a fully reversed frame has monotone starts but a wrong-way
    // outermost end — must also be rejected
    val reversed = model.binsDf(spark).orderBy(col("interval_start_include"))
    val e2 = intercept[IllegalArgumentException] {
      WoeMonotonicBinning.applyBins(sf0001, reversed)
    }
    assert(e2.getMessage.contains("not in bin order"))
    // the engine's own frame and a parquet round-trip still pass
    val path = "/tmp/graft-binsdf-roundtrip"
    model.binsDf(spark).coalesce(1).write.mode("overwrite").parquet(path)
    assert(WoeMonotonicBinning.applyBins(sf0001, spark.read.parquet(path))
      .columns.toSeq == Seq("extendedprice_bin"))
  }

  test("exactSchema emits NULL *_bin columns for filtered variables") {
    val model = new WoeBinningEstimator()
      .setTargetCol("target")
      .setInputCols(Array("extendedprice", "quantity", "discount"))
      .setNThreshold(300)
      .fit(sf0001)
    // default: data-dependent columns (quantity/discount filtered)
    assert(model.transform(sf0001).columns.toSeq == Seq("extendedprice_bin"))
    // exactSchema: transform output == declared transformSchema
    val exact = model.setExactSchema(true)
    val out = exact.transform(sf0001)
    assert(out.schema.fieldNames.toSeq ==
      exact.transformSchema(sf0001.schema).fieldNames.toSeq)
    assert(out.columns.toSeq ==
      Seq("extendedprice_bin", "quantity_bin", "discount_bin"))
    val r = out.agg(
      count(col("quantity_bin")), count(col("discount_bin")),
      count(col("extendedprice_bin"))).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L, "filtered vars must be all-NULL")
    assert(r.getLong(2) == 6000L)
    // the flag persists through save/load
    val path = "/tmp/graft-mllib-exactschema"
    exact.write.overwrite().save(path)
    assert(WoeBinningTransformer.load(path).transform(sf0001).columns.length == 3)
  }

  test("fitByGroup == independent filter-then-fit per segment") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(SparkEntry.lcgColumns :+ col("l_returnflag").as("flag"): _*)
    val opts = WoeFitOptions(nThreshold = Some(60))
    val cols = Seq("extendedprice", "quantity")
    val grouped = WoeBinning.fitByGroup(df, "target", cols, "flag", opts)
    assert(grouped.map(_._1) == Seq("A", "N", "R"), "sorted segment keys")
    grouped.foreach { case (g, m) =>
      val manual = WoeBinning.fit(df.filter(col("flag") === g), "target", cols, opts)
      cols.foreach { c =>
        val gb = m.bins(c); val mb = manual.bins(c)
        assert(gb.length == mb.length, s"flag=$g $c bin count")
        gb.zip(mb).foreach { case (a, b) => assert(a == b, s"flag=$g $c bin mismatch") }
      }
    }
  }

  test("fitByGroup: per-segment default nThreshold = ceil(segmentRows/20)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(SparkEntry.lcgColumns :+ col("l_returnflag").as("flag"): _*)
    val grouped = WoeBinning.fitByGroup(
      df, "target", Seq("quantity"), "flag").toMap
    Seq("A", "N", "R").foreach { g =>
      val manual = WoeBinning.fit(
        df.filter(col("flag") === g), "target", Seq("quantity"))
      assert(grouped(g).bins("quantity") == manual.bins("quantity"),
        s"flag=$g default-threshold fit")
    }
  }

  test("fitByGroup skips null segments and supports transform on the filtered slice") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(SparkEntry.lcgColumns :+
        when(col("l_linenumber") === 1, lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("flag"): _*)
    val grouped = WoeBinning.fitByGroup(df, "target", Seq("extendedprice"),
      "flag", WoeFitOptions(nThreshold = Some(60)))
    assert(grouped.map(_._1) == Seq("A", "N", "R"), "null segment dropped")
    val totalRows = grouped.map { case (_, m) =>
      m.bins("extendedprice").filter(b => !b.size.isNaN).map(_.size).sum }.sum
    val nonNull = df.filter(col("flag").isNotNull).count()
    assert(totalRows == nonNull.toDouble, "null-flag rows excluded from stats")
    // transform of the equivalent manual slice works (medians reused or
    // recomputed — either way the columns bucket)
    val (g, m) = grouped.head
    val out = m.transform(df.filter(col("flag") === g))
    assert(out.count() > 0)
  }

  test("MLlib transformer passthrough keeps input columns") {
    val model = new WoeBinningEstimator()
      .setTargetCol("target")
      .setInputCols(Array("extendedprice"))
      .setNThreshold(300)
      .fit(sf0001)
    val out = model.setPassthrough(true).transform(sf0001)
    assert(out.columns.toSeq ==
      Seq("target", "extendedprice", "quantity", "discount", "extendedprice_bin"))
  }

  test("bins of an unknown variable names it and the fitted ones, also through psiForModel") {
    val bs = (v: String) => Vector(graft.core.WoeBin(v, Double.NegativeInfinity,
      Double.PositiveInfinity, 10, 0.5, 5, 5, 0.1, 0.1, 0.0, 0.0))
    val model = new graft.spark.WoeBinningModel(Seq("a" -> bs("a"), "b" -> bs("b")))
    val e = intercept[IllegalArgumentException](model.bins("zz"))
    assert(e.getMessage == "no fitted variable 'zz'; the model fitted [a, b]")
    val df = spark.range(3).select(col("id").cast("double").as("zz"))
    val e2 = intercept[IllegalArgumentException](
      graft.ops.DriftOps.psiForModel(model, df, df, "zz"))
    assert(e2.getMessage == e.getMessage)
  }
}
