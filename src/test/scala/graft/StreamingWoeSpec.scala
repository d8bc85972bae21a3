package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.core.WoeConfig
import graft.spark.{WoeBinning, WoeBinningModel, WoeFitOptions}

/** The incremental (streaming) fit converges to the batch fit once the
  * stream has consumed the same data.
  */
class StreamingWoeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming WoE fit after one pass == batch fit (golden 12 bins)") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/lineitem.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(graft.ops.StreamingOps.stageAsDir(dir, "lineitem"))
      .select(SparkEntry.lcgColumns: _*)
      .select("target", "extendedprice")

    @volatile var last: Option[WoeBinningModel] = None
    val q = graft.ops.StreamingWoe.fitStream(
      stream, "target", Seq("extendedprice"), WoeConfig(nThreshold = 300)) {
      (_, m) => last = Some(m)
    }
    try q.processAllAvailable()
    finally q.stop()

    val batch = WoeBinning.fit(TestSpark.lcgFrame(dir), "target",
      Seq("extendedprice"), WoeFitOptions(nThreshold = Some(300)))
    val got = last.get.bins("extendedprice")
    val expected = batch.bins("extendedprice")
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e) }
  }

  test("preBucketEdges caps streaming state on a high-cardinality column " +
    "and still == batch fit over the same snapped values") {
    val dir = "/root/testdata/sf0.001"
    // extendedprice is near-unique at this sf — the unbounded-
    // cardinality shape the cap exists for
    val edges = (0 to 10).map(_ * 12000.0)
    val schema = spark.read.parquet(s"$dir/lineitem.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(graft.ops.StreamingOps.stageAsDir(dir, "lineitem"))
      .select(SparkEntry.lcgColumns: _*)
      .select("target", "extendedprice")

    @volatile var last: Option[WoeBinningModel] = None
    val q = graft.ops.StreamingWoe.fitStream(
      stream, "target", Seq("extendedprice"), WoeConfig(nThreshold = 300),
      preBucketEdges = Map("extendedprice" -> edges)) {
      (_, m) => last = Some(m)
    }
    try q.processAllAvailable()
    finally q.stop()

    // the cap actually bounds distinct values (streaming state is
    // O(distinct) by construction, so this is the state bound)
    val batchDf = TestSpark.lcgFrame(dir).select("target", "extendedprice")
    val snapped = WoeBinning.snapToEdges(batchDf, "extendedprice", edges)
    val nDistinct = snapped.select(countDistinct(col("extendedprice"))).head.getLong(0)
    assert(nDistinct <= edges.length,
      s"snapped distinct $nDistinct exceeds ${edges.length} edges")

    // streaming-with-cap == batch fit over the identically snapped data
    val batch = WoeBinning.fit(snapped, "target", Seq("extendedprice"),
      WoeFitOptions(nThreshold = Some(300)))
    val got = last.get.bins("extendedprice")
    val expected = batch.bins("extendedprice")
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e) }
  }

  test("fitStream fails loudly when uncapped state passes maxDistinctState") {
    // extendedprice is near-unique: with no preBucketEdges and a small
    // cap, the per-batch state gate must TERMINATE the query with the
    // diagnostic instead of letting complete-mode state grow unbounded
    // (the batch fit's maxDistinct / eval maxGroups contract, applied
    // to the streaming surface)
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/lineitem.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(graft.ops.StreamingOps.stageAsDir(dir, "lineitem"))
      .select(SparkEntry.lcgColumns: _*)
      .select("target", "extendedprice")
    val q = graft.ops.StreamingWoe.fitStream(
      stream, "target", Seq("extendedprice"), WoeConfig(nThreshold = 300),
      maxDistinctState = 50) { (_, _) => () }
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("maxDistinctState=50")),
      s"expected the state-gate diagnostic, got: ${chain(ex)}")
    // the same stream under preBucketEdges fits normally with the same
    // cap: snapped columns are bounded by construction, so the gate
    // has nothing left to police
    val edges = (0 to 10).map(_ * 12000.0)
    @volatile var fired = false
    val ok = graft.ops.StreamingWoe.fitStream(
      stream, "target", Seq("extendedprice"), WoeConfig(nThreshold = 300),
      preBucketEdges = Map("extendedprice" -> edges),
      maxDistinctState = 50) { (_, _) => fired = true }
    try ok.processAllAvailable() finally ok.stop()
    assert(fired, "pre-bucketed stream must fit normally under the gate")
  }
}
