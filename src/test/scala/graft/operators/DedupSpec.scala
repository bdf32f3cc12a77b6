package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Recall properties of the approximate dedup operators on planted
  * near-duplicates (the synthetic corpus has none above trivial Jaccard
  * beyond its own clones, so we plant controlled mutations). */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  /** Base corpus + one mutated clone per doc: drop the last word — high but
    * non-trivial shingle overlap. */
  private lazy val planted = {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
      .limit(50).as[(Long, String)].collect()
    val mutated = base.map { case (id, t) =>
      (id + 100000L, t.split("\\s+").dropRight(1).mkString(" "))
    }
    spark.createDataFrame(base ++ mutated).toDF("doc_id", "text")
  }

  test("MinHash-LSH finds every planted near-dup pair (recall = 1)") {
    val pairs = MinHashLSH.nearDupPairs(planted, "doc_id", "text",
      threshold = 0.5).cache()
    val plantedPairs = pairs
      .where(col("doc_b") === col("doc_a") + 100000L)
    assert(plantedPairs.count() == 50)
    assert(plantedPairs.agg(min(col("jaccard"))).head().getDouble(0) >= 0.5)
  }

  test("MinHash-LSH output equals the exact shingle-join answer (no false positives)") {
    // Candidates are exactly verified, so precision is 1 by construction;
    // this asserts the *pairs found* match brute force exactly.
    val lsh = MinHashLSH.nearDupPairs(planted, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b")
    import graft.functions.TextFunctions._
    val sh = planted.select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val exact = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (size(array_intersect(col("x.sh"), col("y.sh"))).cast("double") /
          size(array_union(col("x.sh"), col("y.sh")))).as("j"))
      .where(round(col("j"), 6) >= 0.5)
      .select("doc_a", "doc_b")
    assert(lsh.exceptAll(exact).isEmpty && exact.exceptAll(lsh).isEmpty)
  }

  test("dupClusters resolves a chain and a clique into single components") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation pass) + clique 10,11,12 + isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = MinHashLSH.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("SimHash: planted near-dups collide within Hamming distance") {
    val fp = SimHash.fingerprints(planted, "doc_id", "text", maxHamming = 3)
    // Dropping one word shifts few fingerprint bits for long docs but can
    // flip >3 for short ones, so recall at maxHamming=3 is high, not 1 —
    // observed 39/50 on this corpus; assert a stable lower bound.
    val found = fp.where(col("doc_id") >= 100000L and col("nn_hamming").isNotNull)
    assert(found.count() >= 35)
  }

  test("SimHash of identical text is identical (ham = 0)") {
    val dupDocs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different sentence about spark engines"))
      .toDF("doc_id", "text")
    val fp = SimHash.fingerprints(dupDocs, "doc_id", "text")
    val rows = fp.orderBy("doc_id").collect()
    assert(rows(0).getAs[Long]("simhash") == rows(1).getAs[Long]("simhash"))
    assert(rows(0).getAs[Int]("nn_hamming") == 0)
    assert(rows(2).isNullAt(rows(2).fieldIndex("nn_hamming")))
  }

  test("chunkDedupStats: later doc loses exactly the chunks an earlier doc owns") {
    import graft.queries.Dedup
    // doc 1: tokens a0..a19 (2 chunks). doc 2: doc 1's first chunk verbatim
    // + 10 fresh tokens. doc 3: fully fresh. doc 4: repeats ITS OWN first
    // chunk (within-doc dup — earlier chunk_idx wins).
    val c0 = (0 until 10).map(i => s"a$i").mkString(" ")
    val c1 = (10 until 20).map(i => s"a$i").mkString(" ")
    val fresh = (0 until 10).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$c0 $c1"),
      (2L, s"$c0 $fresh"),
      (3L, (0 until 10).map(i => s"c$i").mkString(" ")),
      (4L, s"$fresh $fresh")).toDF("doc_id", "text")
    val got = Dedup.chunkDedupStats(docs, "doc_id", "text", 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_kept"), r.getAs[Long]("tokens_kept")))).toMap
    // doc 2 keeps only its fresh chunk; doc 4 keeps one of its two copies.
    // (doc 2's `fresh` chunk wins over doc 4's by doc_id order.)
    assert(got == Map(1L -> ((2L, 20L)), 2L -> ((1L, 10L)),
      3L -> ((1L, 10L)), 4L -> ((0L, 0L))))
  }

  test("chunkDedupStats is invariant under input repartitioning") {
    import graft.queries.Dedup
    val docs = Tables.documents(spark, sf).limit(100)
    val a = Dedup.chunkDedupStats(docs, "doc_id", "text", 10)
    val b = Dedup.chunkDedupStats(docs.repartition(17), "doc_id", "text", 10)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("semanticDedupStats prunes planted within-cell near-dups, keeps lowest id") {
    import graft.functions.VectorFunctions._
    import graft.queries.Dedup
    // Three orthogonal base directions = three cells (centroids are the 3
    // lowest ids). ids 0,1,2 are the centroids; 10,11 duplicate cell 0's
    // direction (cos ≈ 1 ≥ tau → both pruned against vec 0); 20 lands in
    // cell 1 (cos 0.8 with centroid 1 > 0.6 with centroid 0) but survives
    // tau = 0.9; 30 duplicates 20 exactly → pruned against 20, proving
    // pruning happens against cell MEMBERS, not just the centroid.
    val v = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)),
      (10L, Array(1f, 0f, 0f, 0f)), (11L, Array(0.99f, 0.01f, 0f, 0f)),
      (20L, Array(0.6f, 0.8f, 0f, 0f)), (30L, Array(0.6f, 0.8f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedupStats(
        v.select(col("vec_id"), vec64(col("embedding")).as("e")), k = 3, tau = 0.9)
      .collect().map(r => r.getAs[Long]("cid") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("n_pruned")))).toMap
    // cell 0: {0,10,11} → 10,11 pruned; cell 1: {1,20,30} → only 30
    // pruned (20 vs centroid cos = 0.8 < 0.9, 30 vs 20 cos = 1);
    // cell 2: {2} untouched.
    assert(got == Map(0L -> ((3L, 2L)), 1L -> ((3L, 1L)), 2L -> ((1L, 0L))))
  }

  test("two-level assignment equals flat argmax on well-separated cells") {
    import graft.functions.VectorFunctions._
    import graft.queries.Dedup
    val v = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)),
      (10L, Array(1f, 0f, 0f, 0f)), (11L, Array(0.99f, 0.01f, 0f, 0f)),
      (20L, Array(0.6f, 0.8f, 0f, 0f)), (30L, Array(0.6f, 0.8f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), vec64(col("embedding")).as("e"))
    val flat = Dedup.semanticAssign(v, 3).select("cid", "vec_id")
    val two = Dedup.semanticAssignTwoLevel(v, 3, 2).select("cid", "vec_id")
    assert(flat.exceptAll(two).isEmpty && two.exceptAll(flat).isEmpty)
  }

  test("two-level assignment keeps planted clones co-celled (prune recall holds)") {
    import graft.functions.VectorFunctions._
    import graft.queries.Dedup
    // The BASELINE.md "Semantic dedup at scale" construction at n=2000:
    // ids [1000, 2000) are 2%-scaled + shifted copies of id - 1000
    // (cos ≈ 0.999). Cell agreement with flat argmax is data-dependent on
    // isotropic vectors, but a clone's argmax path tracks its original's
    // at BOTH levels, so pruning at tau = 0.9 must still catch ~all 1000
    // planted clones.
    val n = 2000L
    val baseId = when(col("id") >= n / 2, col("id") - n / 2).otherwise(col("id"))
    val scale = when(col("id") >= n / 2, lit(1.02)).otherwise(lit(1.0))
    val shift = when(col("id") >= n / 2, lit(0.001)).otherwise(lit(0.0))
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 64).map(d =>
        (pmod(xxhash64(baseId, lit(d), lit(7L)), lit(1000000L)).cast("double")
          / 500000.0 - 1.0) * scale + shift): _*).as("e"))
    val assigned = Dedup.semanticAssignTwoLevel(vecs, 31, 5)
    val pruned = Dedup.semanticPruned(assigned, 0.9).count()
    assert(pruned >= 990, s"two-level assignment lost planted clones: $pruned/1000")
  }

  test("semanticDedupStats is invariant under input repartitioning") {
    import graft.functions.VectorFunctions._
    import graft.queries.Dedup
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), vec64(col("embedding")).as("e"))
    val a = Dedup.semanticDedupStats(emb, k = 16, tau = 0.38)
    val b = Dedup.semanticDedupStats(emb.repartition(17), k = 16, tau = 0.38)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("cross-corpus near-dup join recalls every planted eval near-copy") {
    // q102's operator directly: each eval doc is a train doc minus its
    // first token, so (eval_id, eval_id) must surface as a pair.
    val train = Tables.documents(spark, sf).select("doc_id", "text")
    val evalSet = train.filter(col("doc_id") < 10)
      .select(col("doc_id").as("eval_id"),
        regexp_replace(trim(col("text")), "^[^ ]+ ", "").as("text"))
    val pairs = graft.operators.MinHashLSH.nearDupPairsBetween(
      evalSet, "eval_id", train, "doc_id", "text", threshold = 0.5).collect()
    val selfPairs = pairs.filter(r =>
      r.getAs[Long]("left_id") == r.getAs[Long]("right_id"))
    assert(selfPairs.length == 10, "a planted near-copy escaped the LSH join")
    selfPairs.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.8))
  }

  test("CDC chunking is shift-resistant: a prefix edit preserves most chunks") {
    import graft.functions.TextFunctions.cdcChunks
    // doc 2 = doc 1 with junk INSERTED at the front. Fixed-size chunking
    // would shift every block boundary and share ~nothing; content-
    // defined boundaries re-align within one window width, so the tail
    // chunks stay byte-identical.
    val body = (0 until 120).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, body), (2L, s"INSERTED JUNK PREFIX $body"))
      .toDF("doc_id", "text")
    val chunks = docs
      .select(col("doc_id"), explode(cdcChunks(col("text"), 8)).as("c"))
      .select(col("doc_id"), col("c.ch").as("ch"))
    val sets = chunks.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    // sanity: chunks reassemble the doc exactly, in order
    val ordered = docs
      .select(col("doc_id"), col("text"), cdcChunks(col("text"), 8).as("cs"))
      .collect()
    ordered.foreach { r =>
      val joined = r.getAs[Seq[org.apache.spark.sql.Row]]("cs")
        .map(_.getString(1)).mkString
      assert(joined == r.getString(1), "chunks do not reassemble the text")
    }
    val shared = sets(1L) intersect sets(2L)
    assert(shared.size >= (sets(1L).size * 3) / 4,
      s"only ${shared.size}/${sets(1L).size} chunks survived a prefix " +
        "edit — boundaries are not content-local")
    // and the same content split at different offsets differs only near
    // the edit: doc 2's exclusive chunks are a handful around the insert
    // (the junk itself + the boundary re-alignment window), not O(chunks)
    assert((sets(2L) diff sets(1L)).size <= 5,
      "a prefix edit rewrote chunks far from the edit point")
  }

  test("q265 component propagation actually converges (certificate == 0)") {
    // The gate carries n_changed_last_round as an in-data convergence
    // certificate, but the oracle computes the SAME 6 unrolled rounds, so
    // a component whose diameter exceeds 6 would under-merge identically
    // in both engines and still hash-match — the certificate must be
    // ASSERTED somewhere to bite. Here: every output row must read 0.
    val rows = graft.SparkEntry.queries("q265_dedup_components")(spark, sf)
      .select(col("n_changed_last_round")).distinct().collect()
    assert(rows.nonEmpty, "q265 returned no rows")
    assert(rows.forall(_.getLong(0) == 0L),
      "label propagation had not converged after 6 rounds — the oracle " +
        "comparison cannot catch this; raise the round count")
  }
}
