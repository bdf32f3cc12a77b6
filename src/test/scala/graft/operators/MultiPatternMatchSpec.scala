package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class MultiPatternMatchSpec extends SparkSpec {
  import spark.implicits._

  /** The built-in stack the operator replaces, as the equality oracle:
    * one non-overlapping `replace`-count expression PER pattern, each
    * rescanning the text. Identical output for borderless patterns. */
  private def naiveMatchCounts(docs: DataFrame, textCol: String,
      patterns: Seq[String]): DataFrame = {
    // coalesce: NULL text counts zero occurrences, matching the
    // automaton path row-for-row
    val counts: Seq[Column] = patterns.map { p =>
      coalesce(((length(col(textCol)) -
        length(replace(col(textCol), lit(p), lit("")))) /
        lit(p.length)).cast("long"), lit(0L))
    }
    docs.withColumn("pattern_hits", array(counts: _*))
  }

  /** True iff `p` has no proper prefix that is also a suffix — the
    * condition under which overlapping occurrences cannot exist and the
    * automaton count equals the oracle's `replace`-count. */
  private def borderless(p: String): Boolean =
    !(1 until p.length).exists(k => p.substring(0, k) == p.substring(p.length - k))

  private val pats = Seq("ab", "bc", "data line", "line", "xyz")

  test("automaton path equals the built-in replace-count stack (borderless patterns)") {
    val docs = Seq(
      (1L, "data line data line bc"),
      (2L, "abc abc"),
      (3L, ""),
      (4L, "no hits here at all"),
      (5L, "line")).toDF("doc_id", "text")
    assert(pats.forall(borderless))
    val ac = MultiPatternMatch.withMatchCounts(docs, "text", pats)
      .select("doc_id", "pattern_hits").as[(Long, Seq[Long])].collect().toMap
    val nv = naiveMatchCounts(docs, "text", pats)
      .select("doc_id", "pattern_hits").as[(Long, Seq[Long])].collect().toMap
    assert(ac == nv)
    // spot-check: doc 1 has "data line" ×2, and "line" ×2 (inside them),
    // "bc" ×1; doc 2 has "ab"×2 + "bc"×2 overlapping in "abc"
    assert(ac(1L) == Seq(0L, 1L, 2L, 2L, 0L))
    assert(ac(2L) == Seq(2L, 2L, 0L, 0L, 0L))
  }

  test("overlapping semantics pinned: self-overlapping pattern counts every end position") {
    // "aa" in "aaaa" ends at positions 2,3,4 -> 3 occurrences; the
    // replace-count (non-overlapping) would say 2. This is WHY the gate
    // restricts itself to borderless patterns.
    assert(!borderless("aa"))
    val counts = MultiPatternMatch.build(Seq("aa")).scan("aaaa")
    assert(counts.toSeq == Seq(3L))
  }

  test("pattern that is a suffix of another is still found (failure-link output merge)") {
    // At the node for "data line", the suffix "line"'s output must fire too.
    val counts = MultiPatternMatch.build(Seq("data line", "line")).scan("data line")
    assert(counts.toSeq == Seq(1L, 1L))
  }

  test("null text yields zero counts on BOTH paths, not a crash") {
    val docs = Seq((1L, null: String), (2L, "ab")).toDF("doc_id", "text")
    val m = MultiPatternMatch.withMatchCounts(docs, "text", Seq("ab"))
      .select("doc_id", "pattern_hits").as[(Long, Seq[Long])].collect().toMap
    assert(m(1L) == Seq(0L) && m(2L) == Seq(1L))
    val nv = naiveMatchCounts(docs, "text", Seq("ab"))
      .select("doc_id", "pattern_hits").as[(Long, Seq[Long])].collect().toMap
    assert(nv == m, "null-text semantics diverge between paths")
  }

  test("gate blocklist is borderless — the oracle-equivalence precondition") {
    assert(graft.queries.Text.BlocklistPatterns.forall(borderless))
  }
}
