package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q44's join: both exact physical forms emit identical rows, the
  * prefix-filtered one never degenerates into an all-pairs plan, and q44's
  * build runs no statistic. */
class NgramJaccardSpec extends SparkSpec {
  import spark.implicits._

  /** (doc_id, n_sh, shash) stream for a corpus given as (doc_id, tokens);
    * same shape q44 builds (distinct 3-gram shingles, hashed). */
  private def ex(docs: Seq[(Long, String)]): DataFrame = {
    import graft.functions.TextFunctions.{shingles, tokens}
    val d = docs.toDF("doc_id", "text")
      .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
      .filter(col("n_sh") > 0)
    d.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("shash"))
  }

  private def vocabDoc(id: Long, words: Int): (Long, String) =
    (id, (0 until words).map(w => s"w${id}_$w").mkString(" "))

  /** 6 docs: 0/1 near-dups (shared long run), 2-5 disjoint vocab. */
  private val planted: Seq[(Long, String)] = {
    val shared = (0 until 30).map(i => s"common$i").mkString(" ")
    Seq(
      (0L, shared + " tail0 tail00"),
      (1L, shared + " tail1 tail11 tail111"),
      vocabDoc(2L, 25), vocabDoc(3L, 25), vocabDoc(4L, 25), vocabDoc(5L, 25))
  }

  test("both routes emit identical pairs (the losslessness routing relies on)") {
    val e = ex(planted).cache()
    try {
      val naive = NgramJaccard.naivePairs(e, 0.2)
        .orderBy("doc_a", "doc_b").collect().toSeq
      val prefix = PrefixFilterJoin
        .similarPairs(e, "doc_id", "n_sh", "shash", 0.2, 0.19)
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(naive.nonEmpty, "planted near-dup pair not found")
      assert(naive == prefix)
      assert(naive.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
    } finally e.unpersist()
  }

  test("the routed prefix plan joins on keys — never cartesian/nested-loop") {
    val pairs = PrefixFilterJoin
      .similarPairs(ex(planted), "doc_id", "n_sh", "shash", 0.2, 0.19)
    val p = pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix route degenerated into an all-pairs join")
  }

  test("q44's build starts no Spark job of its own; q352 reads 'naive' at the spec scale") {
    val meter = graft.core.Meter.on(spark)
    def jobsDuring(f: => Any): Seq[String] = {
      val label = "ngram-build-" + java.util.UUID.randomUUID()
      meter.label(label)(f)
      meter.record(label).jobs.map(_.description)
    }
    // the first read of a table in a session infers its schema (one job);
    // after it, the build starts no job at all
    graft.core.Tables.documents(spark, sf)
    val build = jobsDuring(graft.SparkEntry.queries("q44_ngram_jaccard")(spark, sf))
    assert(build.isEmpty, s"q44's build ran jobs: $build")
    val decision = graft.SparkEntry.queries("q352_router_decision")(spark, sf)
      .select("decision").collect().map(_.getString(0)).toSeq
    assert(decision == Seq("naive"))
  }
}
