package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training — the missing
  * piece between the corpus-statistics queries (q69 vocab, q95 merges) and
  * an actual trainable tokenizer a 100 TB pipeline would fit before
  * pre-tokenizing its corpus.
  *
  * Algorithm (Sennrich et al. 2016, the public BPE formulation): start from
  * per-word character sequences weighted by corpus frequency; repeatedly
  * (1) count adjacent symbol pairs, (2) merge the globally most frequent
  * pair (ties broken lexically for determinism) everywhere it occurs,
  * greedy left-to-right within each word.
  *
  * 100 TB posture: the corpus is touched EXACTLY ONCE (word-frequency
  * aggregation — one hash-partitioned shuffle of (word, 1) pairs with
  * map-side combine). Every training iteration thereafter operates on the
  * VOCABULARY table (distinct words), which is ~10^5–10^7 rows regardless
  * of corpus size — Heaps' law, not corpus-linear. Per round the driver
  * receives a bounded candidate slice (the top-K pair counts — scalar
  * coordination, not data movement), and the vocabulary is
  * localCheckpoint'd so the iterative plan's lineage stays O(rounds /
  * batchSize) instead of O(merges). The greedy in-word merge is a JVM
  * kernel over the vocab table only — it never runs over corpus rows, so
  * it is deliberately NOT on any per-document hot path (corpus-side
  * encoding below amortizes all merges into one pass).
  *
  * ==Batched training (the production path)==
  *
  * `batchSize = 1` is exact sequential greedy BPE: one vocab-sized Spark
  * job and one driver argmax per merge. Correct, but a production vocab is
  * 32k–100k merges — 32k+ sequential jobs with a driver barrier each, i.e.
  * hours of pure scheduling at ANY data scale. `batchSize = m > 1` is the
  * standard distributed-BPE batching: per round, take the top-m candidate
  * pairs that are pairwise SYMBOL-DISJOINT (no candidate's left, right, or
  * merged symbol appears in an earlier accepted candidate of the same
  * round) and apply them all, in rank order, in ONE vocab-sized job.
  * Symbol-disjointness means no accepted merge can create, destroy, or
  * re-segment occurrences of another accepted merge in the same round, so
  * every row of the returned table still carries its TRUE corpus-wide pair
  * count at the moment it is applied. The only deviation from strict
  * sequential greedy is deferred consideration: a pair newly CREATED by a
  * round's earlier merge cannot be chosen later in the same round (it
  * becomes a candidate next round). Rounds collapse from `nMerges` to
  * `ceil(nMerges / accepted-per-round)` — the axis that actually binds at
  * production merge counts (see BASELINE.md "BPE training vs MERGE COUNT":
  * wall time vs merge count is strongly sub-linear under batching).
  */
object BpeTrainer {

  /** Greedy left-to-right single-pair merge — the public BPE inner step. */
  private[graft] def mergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Apply an ordered run of merges to one symbol sequence — exactly
    * `merges.foldLeft(mergeOnce)`, i.e. identical to applying each merge
    * in its own pass (the batched vocab update is therefore
    * application-equivalent to `batchSize` sequential updates). */
  private[graft] def mergeRun(syms: Seq[String],
      merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(syms) { case (s, (l, r)) => mergeOnce(s, l, r) }

  /** Driver-side batch selection over the round's ranked candidate slice:
    * greedily accept candidates (already sorted by cnt desc, l, r) that
    * are symbol-disjoint from every earlier acceptance — a candidate is
    * skipped if its left, right, or merged symbol was an earlier accepted
    * candidate's left, right, or merged symbol. Deterministic given the
    * slice. Returns at most `m` (l, r, cnt) rows in acceptance order. */
  private[graft] def selectCompatible(ranked: Seq[(String, String, Long)],
      m: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.HashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = ranked.iterator
    while (it.hasNext && out.length < m) {
      val c @ (l, r, _) = it.next()
      if (!used(l) && !used(r) && !used(l + r)) {
        out += c; used += l; used += r; used += (l + r)
      }
    }
    out.toSeq
  }

  /** Learn `nMerges` BPE merges from whitespace-tokenized `textCol`.
    * Words shorter than `minWordLen` chars carry no pairs and are dropped
    * up front. Returns the ordered merge table:
    * (rank, left_sym, right_sym, merged, cnt) — `cnt` is the corpus-wide
    * occurrence count of the pair at the moment it was chosen.
    *
    * `batchSize = 1` (default) is exact sequential greedy; `batchSize > 1`
    * applies up to that many symbol-disjoint merges per vocab-sized job —
    * see the object doc for the semantics and the scale rationale.
    */
  def train(corpus: DataFrame, textCol: String, nMerges: Int,
      minWordLen: Int = 2, batchSize: Int = 1): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val spark = corpus.sparkSession
    import spark.implicits._

    // The single corpus-sized job: word frequencies.
    var vocab = corpus
      .select(explode(split(trim(col(textCol)), " ")).as("word"))
      .filter(length(col("word")) >= minWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(split(col("word"), "").as("syms"), col("freq"))
      .localCheckpoint()

    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 0L
    while (rank < nMerges) {
      val want = math.min(batchSize, nMerges - rank).toInt
      // Adjacent-pair counts over the vocab, weighted by word frequency.
      val pairCounts = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(0), size(col("syms")) - 2),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
      def collectRanked(slice: Int): Seq[(String, String, Long)] =
        pairCounts.limit(slice).collect() // bounded candidate slice
          .toSeq.map { case Row(l: String, r: String, cnt: Long) => (l, r, cnt) }
      // Candidate slice: over-collect 4x so skipped (conflicting)
      // candidates don't starve the batch. Bounded driver traffic — but
      // NOT a semantic bound: if greedy acceptance under-fills while the
      // slice came back full (denser candidates may exist past the cut),
      // re-collect geometrically larger until the batch fills or the
      // slice provably covers every candidate (came back short). The
      // result is therefore exactly "top-m symbol-disjoint among ALL
      // pairs", independent of the initial slice size.
      var slice = math.max(64, 4 * want)
      var ranked = collectRanked(slice)
      if (ranked.isEmpty) {
        return merges.result()
          .toDF("rank", "left_sym", "right_sym", "merged", "cnt")
      }
      var batch = selectCompatible(ranked, want)
      while (batch.length < want && ranked.length == slice) {
        slice *= 4
        ranked = collectRanked(slice)
        batch = selectCompatible(ranked, want)
      }
      batch.foreach { case (l, r, cnt) =>
        rank += 1
        merges += ((rank, l, r, l + r, cnt))
      }
      val pairs = batch.map { case (l, r, _) => (l, r) }
      val kernel = udf((syms: Seq[String]) => mergeRun(syms, pairs))
      vocab = vocab
        .withColumn("syms", kernel(col("syms")))
        .localCheckpoint() // truncate iterative lineage; vocab-sized
    }
    merges.result().toDF("rank", "left_sym", "right_sym", "merged", "cnt")
  }

  /** Encode a corpus with a learned merge table: one corpus pass, all
    * merges applied in rank order per word (the standard BPE encode).
    * Adds `tokens: array<string>` — concat(tokens per word) == the word.
    */
  def encode(corpus: DataFrame, textCol: String, merges: DataFrame): DataFrame = {
    val ranked: Seq[(String, String)] = merges
      .orderBy(col("rank"))
      .select(col("left_sym"), col("right_sym"))
      .collect().toSeq // merge table: nMerges rows, driver-sized by nature
      .map(r => (r.getString(0), r.getString(1)))
    val sc = corpus.sparkSession.sparkContext
    val bcast = sc.broadcast(ranked)
    val encodeKernel = udf((text: String) =>
      text.trim.split(" ").toSeq.flatMap { w =>
        bcast.value.foldLeft(w.split("").toSeq) { case (syms, (l, r)) =>
          mergeOnce(syms, l, r)
        }
      })
    corpus.withColumn("tokens", encodeKernel(col(textCol)))
  }
}
