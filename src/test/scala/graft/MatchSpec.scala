package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.AhoCorasick
import graft.ops.MatchOps

/** Aho–Corasick multi-pattern matching: automaton unit behavior plus
  * the codegen'd expression path through a real plan.
  */
class MatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("AhoCorasick counts all end positions, hand-checked") {
    val ac = AhoCorasick.build(Seq("he", "she", "his", "hers"))
    // the canonical 1975 example: "ushers" → she@3, he@4, hers@6
    assert(ac.countAll("ushers").toSeq == Seq(1L, 1L, 0L, 1L))
    // overlapping different patterns + repeats
    assert(ac.countAll("shehehis").toSeq == Seq(2L, 1L, 1L, 0L))
    assert(ac.countAll("").toSeq == Seq(0L, 0L, 0L, 0L))
  }

  test("AhoCorasick handles self-overlapping and nested patterns") {
    val ac = AhoCorasick.build(Seq("aa", "aaa"))
    // "aaaa": aa at ends 2,3,4 = 3; aaa at ends 3,4 = 2 (all-ends
    // semantics — a bordered pattern DOES count overlaps)
    assert(ac.countAll("aaaa").toSeq == Seq(3L, 2L))
    val ac2 = AhoCorasick.build(Seq("an", "slow scan"))
    // nested output through fail links: the phrase end also ends "an"
    assert(ac2.countAll("slow scan").toSeq == Seq(1L, 1L))
  }

  test("matchHits through a plan equals a per-pattern instr count") {
    val docs = Seq(
      (1L, "spark merge spark"),
      (2L, "slow scan over big table"),
      (3L, "nothing here"),
      (4L, "data table")).toDF("doc_id", "text")
    val pats = Seq("spark", "slow scan", "big table", "ta")
    val got = MatchOps.matchHits(docs, "doc_id", "text", pats)
      .orderBy("doc_id", "pattern")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, "spark", 2L),
      (2L, "big table", 1L), (2L, "slow scan", 1L), (2L, "ta", 1L),
      (4L, "ta", 2L)))
  }

  test("filterClean drops exactly the docs with any hit; null text is kept") {
    val docs = Seq(
      (1L, Some("clean text")), (2L, Some("has spark inside")),
      (3L, Some("also clean")), (4L, Option.empty[String]))
      .toDF("doc_id", "text")
    val kept = MatchOps.filterClean(docs, "text", Seq("spark", "zzz"))
      .select("doc_id").as[Long].collect().toSet
    // a null document carries no blocklisted phrase — it must survive
    assert(kept == Set(1L, 3L, 4L))
  }

  test("non-ASCII text: BMP code points match per UTF-16 unit") {
    import spark.implicits._
    val ac = AhoCorasick.build(Seq("héllo", "日本", "é"))
    assert(ac.countAll("héllo wörld 日本語 héllo").toSeq == Seq(2L, 1L, 2L))
    // surrogate pairs (non-BMP) still count consistently: the pattern
    // and text use the same UTF-16 units, so a 2-unit emoji matches
    val emoji = "🎉"
    val ac2 = AhoCorasick.build(Seq(emoji))
    assert(ac2.countAll(s"x${emoji}y$emoji").toSeq == Seq(2L))
    // and through a plan (UTF8String -> String decode path)
    val got = MatchOps.matchHits(
        Seq((1L, s"héllo $emoji")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("é", emoji))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("é" -> 1L, emoji -> 1L))
  }

  test("q_blocklist_match borderless invariant holds for the shipped list") {
    // every shipped pattern must be borderless (no proper prefix that
    // is also a suffix) — the precondition for the oracle's
    // replace-delta count to equal the AC all-ends count
    board.DedupQueries.blockPatterns.foreach { p =>
      val bordered = (1 until p.length).exists(k =>
        p.substring(0, k) == p.substring(p.length - k))
      assert(!bordered, s"pattern '$p' has a border")
    }
  }
}
