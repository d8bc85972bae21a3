package graft

import org.scalatest.funsuite.AnyFunSuite

/** The board registry itself: one record per name, an oracle for every
  * record, and oracles that read the corpus dir they are given.  No
  * query runs here; only the oracle texts are built.
  */
class QueryRegistrySpec extends AnyFunSuite {
  // oracles only interpolate the dir, so neither needs to exist
  private val dir = "/corpus/a/sf0.01"
  private val otherDir = "/corpus/b/sf0.01"

  // the storage-metadata oracles: DuckDB reads the parquet files (or
  // their staged re-encodes, keyed by the dir's md5) under the dir
  private val dirReading = Set(
    "q_parquet_footer", "q_parquet_footer_dist", "q_parquet_stats",
    "q_parquet_page_stats", "q_parquet_encodings", "q_parquet_bloom",
    "q_parquet_dict_probe", "q_orc_footer", "q_orc_footer_dist",
    "q_orc_stats", "q_orc_stats_typed", "q_orc_row_index", "q_orc_bloom",
    "q_orc_dict_probe", "q_orc_encodings")

  test("board names are unique, and the join names a duplicate") {
    val names = SparkEntry.queries.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString(", "))
    val a = QuerySpec("q_a", (s, _) => s.emptyDataFrame, _ => "SELECT 1")
    val b = a.copy(name = "q_b")
    val e = intercept[IllegalArgumentException](
      SparkEntry.join(Seq(a, b), Seq(a)))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"),
      e.getMessage)
    assert(SparkEntry.join(Seq(a), Seq(b)).map(_.name) == Seq("q_a", "q_b"))
  }

  test("every record's oracle is non-empty SQL") {
    val empty = SparkEntry.queries.filter(_.oracle(dir).trim.isEmpty).map(_.name)
    assert(empty.isEmpty, empty.mkString(", "))
    assert(SparkEntry.query("q_fit_exact").name == "q_fit_exact")
    val e = intercept[NoSuchElementException](SparkEntry.query("q_no_such"))
    assert(e.getMessage.contains("q_no_such"))
  }

  test("dir-reading oracles interpolate the dir they are given, not a default") {
    for (q <- SparkEntry.queries) {
      val here = q.oracle(dir)
      val there = q.oracle(otherDir)
      // a pinned corpus path would compare the Spark side's corpus
      // against a different one whenever the two dirs differ
      assert(!there.contains(dir) && !there.contains("testdata"),
        s"${q.name} reads a corpus other than $otherDir")
      if (dirReading(q.name)) assert(here != there, s"${q.name} ignores its dir")
      else assert(here == there, s"${q.name} depends on its dir")
    }
    val literal = SparkEntry.queries.filter(_.oracle(otherDir).contains(otherDir))
      .map(_.name).toSet
    // the md5-keyed staged reads name the dir only through its hash
    assert(literal == dirReading - "q_parquet_page_stats" - "q_parquet_encodings",
      literal.toSeq.sorted.mkString(", "))
  }
}
