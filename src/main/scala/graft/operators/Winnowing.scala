package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 — the
  * MOSS local-fingerprinting algorithm), the classic robust alternative
  * to MinHash for SUBSTRING-level overlap: hash every k-gram of the
  * token stream, slide a window over `w` consecutive k-gram hashes, and
  * keep each window's minimum (ties broken by earliest position). The
  * guarantee that makes it an overlap DETECTOR rather than a sampler:
  * any shared token run of length >= w + k - 1 between two documents
  * contributes at least one IDENTICAL (hash, aligned-content)
  * fingerprint to both — no luck involved, unlike mod-p hash sampling.
  *
  * Engine-portability: the k-gram hash is the first 10 hex chars of
  * md5 parsed as a 40-bit integer (md5 is byte-identical across
  * engines; xxhash64 is not), and the (hash, position) tie-break is
  * packed into one orderable long `hash * 2^20 + pos` so a single
  * windowed MIN selects both — the same expression a SQL oracle can
  * run verbatim. Documents are capped at 2^20 k-grams by that packing
  * (a million tokens; chunk longer docs upstream).
  *
  * 100 TB posture: everything through fingerprint emission is
  * partition-local per document (split → gram → hash → windowed min
  * within the doc partition); cross-document work joins on the
  * fingerprint hash only — banded, never all-pairs, with an over-common
  * fingerprint cap (MOSS's stop-fingerprint rule) bounding join fan-out
  * exactly like q46's LSH band cap. */
object Winnowing {

  private val PosBits = 1048576L // 2^20

  /** (doc_id, fp, pos): the winnowed fingerprint set per document.
    * `fp` is the 40-bit k-gram hash, `pos` the 0-based gram position
    * whose window selected it.
    *
    * ENTIRELY map-side: the windowed min runs INSIDE the per-row gram
    * array (`array_min` over array slices), so selection happens before
    * anything is exploded — no doc-keyed shuffle, no per-doc sort, and
    * the only rows that ever leave the scan task are the already-
    * winnowed fingerprints (~2/(w+1) of gram positions before the
    * in-array dedup, fewer after). The round-8 probe measured the
    * doc-keyed Window formulation of the same math at 6.4/7.4/8.2 s
    * vs 4.2/5.4/6.4 s for this form (scales 1/2/4, identical output):
    * ~1.35x end-to-end locally, and the Window form additionally
    * shuffles EVERY gram hash by doc_id (2.6x the winnowed row count)
    * where this form shuffles nothing before the pairing join. */
  def fingerprints(docs: DataFrame, docIdCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val toks = split(trim(col(textCol)), " ")
    // Packed (hash, pos) per gram + windowed-min selection + in-row
    // dedup, as ONE compiled kernel (round-15 optimization; guide §4.1's
    // "eliminate interpreted per-element lambdas in the hot path"). The
    // previous HOF formulation — transform(sequence, md5·conv·substring)
    // then array_min over per-window SLICE COPIES, carefully LET-BOUND so
    // Catalyst would not inline the md5 pass once per window (O(n²·w);
    // measured 165 s vs 4 s on the probe corpus) — was value-correct but
    // evaluation-bound: per-job walls attributed q202's whole bench row to
    // this single map stage (~2.2 s of interpreted lambda walks, hex
    // round-trips and slice copies at sf0.1). The kernel computes the
    // identical packed values (same concat_ws(" ") gram bytes, same md5,
    // first-10-hex ≡ first-5-bytes) with a monotone-deque O(n) window
    // pass — see [[graft.functions.VectorKernels.winnowPacked]] for the
    // value-identity argument and WinnowKernelSpec for the property pin
    // against the HOF form; the unchanged DuckDB oracle replays the HOF
    // math on every gate run.
    val sels = graft.functions.CodegenExpressions.winnowPack(toks, k, w)
    // Fail fast on pathological documents rather than silently
    // corrupting fingerprints: the (hash, pos) packing reserves 20 bits
    // for pos, so a document with >= 2^20 k-grams would overflow pos
    // into the hash bits. raise_error (not a silent filter) — at 100 TB
    // a >1M-gram "document" is an upstream chunking bug to surface.
    val guarded = when(size(toks).cast("long") - k < lit(PosBits), sels)
      .otherwise(raise_error(concat(
        lit("Winnowing: document has >= 2^20 k-grams (pos packing "),
        lit("overflow); chunk upstream: "), col(docIdCol).cast("string"))))
    docs
      .filter(size(toks) >= k + w - 1) // at least one complete window
      .select(col(docIdCol).as("doc_id"), explode(guarded).as("selv"))
      .select(col("doc_id"), expr(s"selv div $PosBits").as("fp"),
        expr(s"selv % $PosBits").as("pos")) // exact integer decode
    // no cross-row distinct needed: array_distinct dedups within the
    // doc and doc_id separates rows across docs
  }

  /** Maximal ALIGNED shared fingerprint runs per document pair — the
    * ExactSubstr-style refinement of [[sharedPairs]] (Lee et al. 2022
    * dedup removes the longest repeated substring at any alignment;
    * q127 only counted fixed-width windows). Within one shared token
    * run the two documents select the SAME minima at a CONSTANT offset,
    * so matched fingerprints of a real shared substring all sit on one
    * diagonal (pos_b − pos_a) and, by the winnowing density guarantee,
    * at most `gap` = w positions apart. Gaps-and-islands over pos_a per
    * (pair, diagonal) therefore reconstructs each maximal shared run;
    * the reported `run_tokens` = span + k is a CERTIFIED LOWER BOUND of
    * the true shared substring length (selection can start up to w−1
    * grams inside the run's edges).
    *
    * 100 TB posture: identical to [[sharedPairs]] — the only cross-doc
    * work is the capped fingerprint equijoin; the islands window runs
    * per (pair, diagonal) partition at matched-fingerprint cardinality.
    */
  def sharedRuns(fps: DataFrame, maxDocsPerFp: Long = 50, gap: Int = 4,
      k: Int = 3): DataFrame = {
    val allowed = fps.select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxDocsPerFp)
      .select(col("fp"))
    val kept = fps.join(allowed, Seq("fp"))
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_b"),
      col("pos").as("pos_b"))
    val m = a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("pos_b") - col("pos_a")).as("diag"), col("pos_a"))
      .distinct()
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    m.withColumn("brk",
        when(col("pos_a") - lag(col("pos_a"), 1).over(w) > gap, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pos_a")).as("p0"), max(col("pos_a")).as("p1"),
        count(lit(1)).as("n_fps"))
      .select(col("doc_a"), col("doc_b"), col("diag"), col("p0"),
        (col("p1") - col("p0") + k).as("run_tokens"), col("n_fps"))
  }

  /** Document pairs sharing >= `minShared` fingerprints, via a
    * fingerprint-hash equijoin. Fingerprints appearing in more than
    * `maxDocsPerFp` documents are dropped first (stop-fingerprints):
    * they carry no discriminative signal and their pair fan-out is
    * quadratic — the same cap discipline as LSH band buckets. */
  def sharedPairs(fps: DataFrame, minShared: Long = 2,
      maxDocsPerFp: Long = 50): DataFrame = {
    val kept = fps.select(col("doc_id"), col("fp")).distinct()
      .withColumn("n_docs", count(lit(1)).over(
        Window.partitionBy(col("fp"))))
      .filter(col("n_docs") <= maxDocsPerFp)
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
