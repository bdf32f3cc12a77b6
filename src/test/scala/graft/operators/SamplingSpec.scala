package graft.operators

import graft.SparkSpec
import graft.core.Tables

class SamplingSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.01")

  test("sample is reproducible and partition-independent") {
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    def sample(df: org.apache.spark.sql.DataFrame, seed: Long) =
      Sampling.stratifiedSample(df, "lang", Seq("doc_id"),
        langs.map(_ -> 0.3).toMap, seed)
    val s1 = sample(docs, seed = 7)
    val s2 = sample(docs.repartition(13), seed = 7)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    val n = s1.count().toDouble / docs.count()
    assert(n > 0.25 && n < 0.35, s"fraction $n")
    // different seed → different subset
    val s3 = sample(docs, seed = 8)
    assert(!s3.exceptAll(s1).isEmpty)
  }

  test("stratified fractions hold per stratum; absent strata dropped") {
    val out = Sampling.stratifiedSample(docs, "lang", Seq("doc_id"),
      Map("en" -> 0.5, "de" -> 0.1), seed = 7)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("en", "de"))
    val base = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("en").toDouble / base("en") - 0.5) < 0.12)
    assert(counts("de").toDouble / base("de") < 0.25)
  }

  test("q57 gate output certifies itself: resample_diff 0, fractions in bounds") {
    // Mirrors the evidence columns the driver sees in the rows-only gate:
    // the second independent sample must match row-for-row (resample_diff
    // = 0) and every stratum's achieved rate must sit within 3σ binomial
    // of its target.
    val rows = graft.SparkEntry.queries("q57_stratified_sample")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("resample_diff") == 0L,
        s"stratum ${r.getAs[String]("lang")} not reproducible")
      assert(r.getAs[Boolean]("frac_in_bounds"),
        s"stratum ${r.getAs[String]("lang")}: achieved ${r.getAs[Double]("achieved_frac")} " +
          s"vs target ${r.getAs[Double]("target_frac")}")
    }
  }
}
