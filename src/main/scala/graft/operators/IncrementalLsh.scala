package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of a banded-LSH near-dup index — the
  * table-backed batch dual of StreamingGate q176's state-backed form,
  * and the missing piece between q46 (full-corpus LSH) and q84
  * (incremental EXACT dedup): dedup a NEW ingest batch against a
  * growing corpus without recomputing anything for the old one.
  *
  * The persisted unit is the bucket table: (doc_id, band, h) rows —
  * 24 bytes per doc per band, signatures and shingles never stored.
  * Appending a batch costs shingle+signature work for the NEW docs
  * only, one band equijoin of new buckets against the index, and the
  * exact-Jaccard verify of the candidates. The invariant that makes
  * incremental ≡ batch ([[graft.queries.Dedup]] q191 gates it): every
  * near-dup pair has a batch in which its SECOND member arrives, and
  * [[appendCandidates]] emits exactly the pairs whose second member is
  * in the appended batch (new×index cross pairs + new×new self pairs).
  * The union of per-batch emissions over any append order therefore
  * equals the one-shot self-join's pair set, each pair exactly once.
  *
  * 100 TB posture: the index grows 24·bands bytes/doc; the per-batch
  * join shuffles |new|·bands rows against a bucket-bucketed table (at
  * real scale: a table bucketed by (band, h), so appends co-locate);
  * verification re-shingles only the docs named in candidate pairs via
  * an id semi-join, not the corpus.
  */
object IncrementalLsh {

  /** The persisted index rows for a batch: (doc_id, band, h). */
  def bucketRows(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 32): DataFrame = {
    val withSh = MinHashLSH.shingled(docs, idCol, textCol, shingleN)
    withSh.withColumn("sig",
        graft.functions.TextFunctions.minhashSignature(col("sh"), numHashes))
      .select(col("doc_id"),
        explode(MinHashLSH.bandStructs(col("sig"), numHashes, bands)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.h").as("h"))
  }

  /** Candidate pairs contributed by appending `newBuckets` to an index
    * holding `indexBuckets` (the docs already ingested): cross pairs
    * (one side old, one new) plus self pairs (both new), normalized to
    * doc_a < doc_b, deduped across colliding bands. Ids must be unique
    * across the whole corpus (append batches never reuse ids). */
  def appendCandidates(indexBuckets: DataFrame,
      newBuckets: DataFrame): DataFrame = {
    val old = indexBuckets.select(col("band"), col("h"),
      col("doc_id").as("old_id"))
    val nw = newBuckets.select(col("band"), col("h"),
      col("doc_id").as("new_id"))
    val cross = old.join(nw, Seq("band", "h"))
      .select(least(col("old_id"), col("new_id")).as("doc_a"),
        greatest(col("old_id"), col("new_id")).as("doc_b"))
    val a = newBuckets.select(col("band"), col("h"), col("doc_id").as("doc_a"))
    val b = newBuckets.select(col("band"), col("h"), col("doc_id").as("doc_b"))
    val self = a.join(b, Seq("band", "h"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    cross.unionAll(self).dropDuplicates("doc_a", "doc_b")
  }
}
