package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based contracts for the round-2 operators, checked against
  * straightforward in-memory models. (Raw ScalaCheck generators sampled
  * explicitly — the scalatest bridge artifact isn't in the offline cache.) */
class OperatorPropertySpec extends SparkSpec {

  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("mergeLatest equals the in-memory latest-wins model") {
    // Updates may repeat a key. Every row's version is distinct (a random
    // draw times 100 plus the row's index), so each key has exactly one
    // latest row across the table and the batch.
    val genCase = for {
      baseKeys <- Gen.listOfN(12, Gen.chooseNum(0L, 19L)).map(_.distinct)
      updKeys <- Gen.listOfN(10, Gen.chooseNum(0L, 24L))
      draws <- Gen.listOfN(22, Gen.chooseNum(0L, 50L))
    } yield (baseKeys, updKeys, draws.zipWithIndex.map { case (d, j) => d * 100 + j })

    sample(genCase, 8).zipWithIndex.foreach { case ((baseKeys, updKeys, vers), i) =>
      val table = s"prop_merge_$i"
      try {
        val base = baseKeys.zip(vers).map { case (k, v) => (k, v, s"base$k") }
        val upd = updKeys.zip(vers.drop(baseKeys.size))
          .map { case (k, v) => (k, v, s"upd$k@$v") }
        base.toDF("id", "ver", "v").write.format("parquet")
          .mode("overwrite").saveAsTable(table)
        Upsert.mergeLatest(spark, table, upd.toDF("id", "ver", "v"),
          Seq("id"), Seq("ver"))
        // model: per key, the row with the highest version wins, whether
        // it is the table's or any of the batch's
        val model = (base ++ upd).groupBy(_._1).values.map(_.maxBy(_._2))
          .toSeq.sortBy(_._1)
        val got = spark.table(table).orderBy("id")
          .as[(Long, Long, String)].collect().toSeq
        assert(got == model, s"case $i: base=$baseKeys upd=$updKeys vers=$vers")
      } finally spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("deterministic sample membership is stable under union with new data") {
    // Adding rows to the dataset must not change which EXISTING rows are
    // sampled — the property that makes hash-membership sampling safe for
    // growing corpora (per-partition RNG sampling lacks it).
    val d1 = (0L until 400L).toDF("doc_id")
    val d2 = (0L until 800L).toDF("doc_id")
    def sampled(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.filter(Sampling.bucket(Seq(col("doc_id")), 11) < 300000L)
        .as[Long].collect().toSet
    val s1 = sampled(d1)
    val s2 = sampled(d2)
    assert(s2.filter(_ < 400L) == s1, "existing rows' membership changed when corpus grew")
  }

  test("chunkDedupStats equals the in-memory first-occurrence model") {
    // Tiny vocabulary + short docs force heavy chunk collisions, both
    // across documents and within one document.
    val W = 3
    val vocab = Seq("t0", "t1", "t2", "t3", "t4", "t5")
    val genDocs = for {
      nDocs <- Gen.chooseNum(1, 8)
      docs <- Gen.listOfN(nDocs,
        Gen.chooseNum(0, 12).flatMap(len => Gen.listOfN(len, Gen.oneOf(vocab))))
    } yield docs
    sample(genDocs, 10).zipWithIndex.foreach { case (docs, ci) =>
      val df = docs.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.queries.Dedup.chunkDedupStats(df, "doc_id", "text", W)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
      // model: split(trim(text), " ") of an empty text is [""], one token
      val seen = scala.collection.mutable.Set[String]()
      val model = docs.zipWithIndex.map { case (toks, i) =>
        val eff = if (toks.isEmpty) Seq("") else toks
        val chunks = eff.grouped(W).toSeq
        val kept = chunks.filter(c => seen.add(c.mkString(" ")))
        val tokensKept = kept.map(_.size.toLong).sum
        val frac = BigDecimal(tokensKept.toDouble / eff.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (i.toLong, eff.size.toLong, chunks.size.toLong,
          kept.size.toLong, tokensKept, frac)
      }
      assert(got == model, s"case $ci: docs=$docs")
    }
  }

  test("semanticDedupStats equals the brute-force in-memory model") {
    import graft.functions.VectorFunctions.vec64
    // dim-5 vectors with a constant 1.0 tail (never zero-norm); cosine
    // computed in the model with the kernel's exact op order, so doubles
    // are bit-identical and tie-breaks agree.
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val genCase = for {
      n <- Gen.chooseNum(3, 12)
      vs <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-2, 2).map(_.toDouble)))
      k <- Gen.chooseNum(1, n)
      tau <- Gen.oneOf(0.5, 0.8, 0.95)
    } yield (vs.map(_ :+ 1.0), k, tau)
    sample(genCase, 10).zipWithIndex.foreach { case ((vs, k, tau), ci) =>
      val df = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), vec64(col("embedding")).as("e"))
      val got = graft.queries.Dedup.semanticDedupStats(df, k, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
      // model: float-cast then double (mirrors the parquet-float contract)
      val dv = vs.map(_.map(x => x.toFloat.toDouble))
      val assign = dv.indices.map { i =>
        i -> (0 until k).maxBy(c => (cos(dv(i), dv(c)), -c.toLong))
      }.toMap
      val pruned = dv.indices.filter(i => (0 until i).exists(u =>
        assign(u) == assign(i) && cos(dv(u), dv(i)) >= tau))
      val model = assign.values.toSeq.distinct.sorted.map { c =>
        val members = dv.indices.filter(assign(_) == c)
        val pr = members.filter(pruned.contains)
        (c.toLong, members.size.toLong, pr.size.toLong,
          (members.size - pr.size).toLong,
          pr.headOption.map(_.toLong), pr.lastOption.map(_.toLong))
      }
      assert(got == model, s"case $ci: k=$k tau=$tau vs=$vs")
    }
  }

  test("bloom-fronted anti-join equals the set-difference model on random cases") {
    // Random corpus/batch overlap, duplicate batch keys, and every
    // expectedItems regime — None (real count), a 0 estimate (stale
    // stats), a severe under-estimate (fpp inflates), an over-estimate
    // (wasted bits) — must all produce EXACTLY the plain-anti-join rows,
    // multiplicity included. The estimate may only move cost, never rows.
    val genCase = for {
      corpusKeys <- Gen.listOfN(30, Gen.chooseNum(0, 50)).map(_.distinct)
      batchKeys <- Gen.listOfN(25, Gen.chooseNum(0, 60))
      est <- Gen.oneOf[Option[Long]](None, Some(0L), Some(2L), Some(1000L))
      fpp <- Gen.oneOf(0.5, 0.03)
    } yield (corpusKeys, batchKeys, est, fpp)
    sample(genCase, 10).zipWithIndex.foreach { case ((ck, bk, est, fpp), i) =>
      val corpus = ck.map(k => s"k$k").toDF("sig")
      val batch = bk.zipWithIndex.map { case (k, j) => (j.toLong, s"k$k") }
        .toDF("id", "sig")
      val got = BloomFront.antiJoin(batch, corpus, "sig", est, fpp)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("sig")))
        .sortBy(_._1).toSeq
      val model = bk.zipWithIndex
        .collect { case (k, j) if !ck.contains(k) => (j.toLong, s"k$k") }
        .sortBy(_._1)
      assert(got == model, s"case $i: est=$est fpp=$fpp corpus=$ck batch=$bk")
    }
  }

  test("Aho-Corasick scan equals the brute-force substring count model, any patterns") {
    // model: count every occurrence INCLUDING overlapping ones — the
    // documented automaton semantics, over random small-alphabet texts
    // where overlaps and shared prefixes/suffixes actually happen
    def brute(text: String, p: String): Long =
      (0 to text.length - p.length)
        .count(i => text.regionMatches(i, p, 0, p.length)).toLong
    val genCase = for {
      text <- Gen.listOfN(60, Gen.oneOf('a', 'b', ' ')).map(_.mkString)
      pats <- Gen.listOfN(6,
        Gen.chooseNum(1, 4).flatMap(n =>
          Gen.listOfN(n, Gen.oneOf('a', 'b', ' ')).map(_.mkString)))
        .map(_.distinct)
    } yield (text, pats)
    sample(genCase, 60).zipWithIndex.foreach { case ((text, pats), i) =>
      val got = MultiPatternMatch.build(pats).scan(text).toSeq
      val model = pats.map(brute(text, _))
      assert(got == model, s"case $i: text='$text' pats=$pats")
    }
  }

  test("funnel accounting partitions the input exactly, any predicate stack") {
    import graft.operators.CurationPipeline.Stage
    val genCase = for {
      rows <- Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 400L), Gen.chooseNum(0L, 9L)))
      t1 <- Gen.chooseNum(0L, 400L)
      keepMod <- Gen.chooseNum(2L, 5L)
    } yield (rows.zipWithIndex.map { case ((v, g), id) => (id.toLong, v, g) }, t1, keepMod)
    sample(genCase, 12).zipWithIndex.foreach { case ((rows, t1, keepMod), i) =>
      val df = rows.toDF("id", "v", "g")
      val stages = Seq(
        Stage("s1", _ => col("v") >= t1),
        Stage("s2", _ => col("g") % keepMod =!= 0L),
        CurationPipeline.dedupKeepOne("s3", col("g"), col("id")))
      val acc = CurationPipeline.accounting(df, stages, col("v"))
        .as[(String, Long, Long)].collect()
      // exact partition: per-stage doc counts sum to the input size and
      // the char sums to the input total
      assert(acc.map(_._2).sum == rows.size, s"case $i rows split: $acc")
      assert(acc.map(_._3).sum == rows.map(_._2).sum, s"case $i mass split: $acc")
      // model the first-failure attribution row-by-row (sequential replay)
      val afterS1 = rows.map { case (id, v, g) => (id, v, g, if (v >= t1) null else "s1") }
      val afterS2 = afterS1.map { case (id, v, g, d) =>
        (id, v, g, if (d != null) d else if (g % keepMod == 0L) "s2" else null) }
      val keepers = afterS2.filter(_._4 == null).groupBy(_._3)
        .map { case (_, grp) => grp.minBy(_._1)._1 }.toSet
      val model = afterS2.map { case (id, v, g, d) =>
        if (d != null) d else if (keepers(id)) "kept" else "s3" }
        .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
      assert(acc.map(r => r._1 -> r._2).toMap == model, s"case $i: $acc vs $model")
    }
  }
}
