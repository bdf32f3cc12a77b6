package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-pattern substring scan (blocklist / keyword-spotting) via an
  * Aho–Corasick automaton — the "does this document contain any of these
  * N phrases, and how often" primitive behind blocklist filtering,
  * PII/safety term spotting, and contamination probes in LLM data
  * pipelines.
  *
  * Why an operator at all: the built-in form is N independent
  * `contains`/`replace` expressions, each of which RESCANS the document —
  * O(N·len) per row. Real blocklists run 10^4–10^6 phrases; at 100 TB the
  * rescan factor IS the job cost. The automaton is built once on the
  * driver (size = Σ pattern lengths — KBs for realistic lists), ships to
  * executors in the task closure like a broadcast dim, and scans each
  * document ONCE — O(len + matches) regardless of N. This is the same
  * sketch-guided shape as [[HeavyHitters]]: a compact driver-built
  * structure makes the per-row work cardinality-independent. The UDF is
  * inherent here for the same reason as HeavyHitters' probe: no built-in
  * expression evaluates N patterns in one pass (a `contains` stack is the
  * thing this operator exists to replace); `MultiPatternMatchSpec`
  * asserts the automaton path row-for-row equal to the built-in stack.
  *
  * Semantics: counts EVERY occurrence, including overlapping ones (all
  * match end positions — standard Aho–Corasick). For borderless patterns
  * (no proper prefix that is also a suffix) overlapping occurrences are
  * impossible, so the count equals the non-overlapping `replace`-count the
  * SQL oracle computes; the gate query's patterns are borderless and
  * `MultiPatternMatchSpec` proves it.
  */
object MultiPatternMatch {

  /** Immutable, serializable Aho–Corasick automaton.
    *
    * @param next per-node goto map (trie edges)
    * @param fail per-node failure link (longest proper suffix node)
    * @param out  pattern ids ending at each node, including those reached
    *             via the failure chain (merged at build time so the scan
    *             never walks suffix links)
    */
  final case class AcAutomaton(
      next: Array[Map[Char, Int]],
      fail: Array[Int],
      out: Array[Array[Int]],
      nPatterns: Int) extends Serializable {

    /** One left-to-right pass; returns occurrence count per pattern id. */
    def scan(text: String): Array[Long] = {
      val counts = new Array[Long](nPatterns)
      var s = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        var st = s
        while (st != 0 && !next(st).contains(c)) st = fail(st)
        s = next(st).getOrElse(c, 0)
        val os = out(s)
        var j = 0
        while (j < os.length) { counts(os(j)) += 1; j += 1 }
        i += 1
      }
      counts
    }
  }

  /** Build the automaton: trie insert, then BFS failure links with output
    * sets merged down the suffix chain. */
  def build(patterns: Seq[String]): AcAutomaton = {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "patterns must be non-empty strings")
    val next = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.Map.empty[Char, Int])
    val ends = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var s = 0
      p.foreach { c =>
        s = next(s).getOrElseUpdate(c, {
          next += scala.collection.mutable.Map.empty[Char, Int]
          ends += Nil
          next.size - 1
        })
      }
      ends(s) = pid :: ends(s)
    }
    val n = next.size
    val fail = new Array[Int](n)
    val out = Array.tabulate(n)(i => ends(i).toArray)
    val q = scala.collection.mutable.Queue.empty[Int]
    next(0).values.foreach { v => fail(v) = 0; q += v }
    while (q.nonEmpty) {
      val u = q.dequeue()
      next(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(v) = if (next(f).contains(c) && next(f)(c) != v) next(f)(c) else 0
        out(v) = out(v) ++ out(fail(v))
        q += v
      }
    }
    AcAutomaton(next.map(_.toMap).toArray, fail, out, patterns.size)
  }

  /** Append `outCol`: array of per-pattern occurrence counts (index =
    * position in `patterns`), computed in ONE scan of `textCol`. */
  def withMatchCounts(docs: DataFrame, textCol: String,
      patterns: Seq[String], outCol: String = "pattern_hits"): DataFrame = {
    val ac = build(patterns)
    val nP = patterns.size
    val scanUdf = udf((t: String) =>
      if (t == null) new Array[Long](nP) else ac.scan(t))
    docs.withColumn(outCol, scanUdf(col(textCol)))
  }
}
