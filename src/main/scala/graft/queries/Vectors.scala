package graft.queries

import graft.core.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table.
  *
  * q50 is the exact baseline: brute-force cosine top-k with the small query
  * side broadcast — at 100 TB this is one pass over the corpus per query
  * batch, no shuffle of the big side. q51 is the scale path: sign-random-
  * projection LSH buckets turn the O(Q·N) scan into a bucket-equijoin
  * (shuffle on bucket id), trading recall for a ~2^bits fan-in reduction.
  * q52 (all-pairs near-dup) and q53 (per-label stats) round out the
  * embedding-column operator set.
  */
object Vectors {

  /** query side: vec_id < 10, broadcastable at any SF. */
  private def queryVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), vec64(col("embedding")).as("qe"))

  /** Exact top-k (qid, vec_id) pairs — the ground truth the approximate
    * paths certify against in their `in_exact_topk` evidence column. */
  private def exactTopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val cand = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vec64(col("embedding")).as("e"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand.join(broadcast(queryVecs(spark, dir)), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine(col("qe"), col("e")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), lit(true).as("in_exact_topk"))
  }

  /** Oracle tail of the candidate-then-rerank ANN gates (q51, q54): exact
    * cosine over the `cand` (qid, vec_id) pairs, top-5 per query, and the
    * [[exactTopK]] evidence column, over `e` (vec_id, emb). */
  private val RerankTopKTail: String = """s AS (SELECT c.qid, c.vec_id,
                     list_cosine_similarity(eq.emb, ec.emb) AS cos
              FROM cand c
              JOIN e eq ON eq.vec_id = c.qid
              JOIN e ec ON ec.vec_id = c.vec_id),
        r AS (SELECT qid, vec_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, vec_id) AS rn
              FROM s),
        ex AS (SELECT qid, vec_id FROM (
                 SELECT q.vec_id AS qid, c.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY q.vec_id
                          ORDER BY list_cosine_similarity(q.emb, c.emb) DESC,
                                   c.vec_id) AS xrn
                 FROM e q JOIN e c ON c.vec_id != q.vec_id
                 WHERE q.vec_id < 10) WHERE xrn <= 5)
        SELECT r.qid, r.rn, r.vec_id, ROUND(r.cos, 6) AS cosine,
               (ex.vec_id IS NOT NULL) AS in_exact_topk
        FROM r LEFT JOIN ex ON ex.qid = r.qid AND ex.vec_id = r.vec_id
        WHERE r.rn <= 5 ORDER BY r.qid, r.rn"""

  /** q351's planted-copy offset and stride (shared with VerifyInputs). */
  private[queries] val PlantOff = 10000000L
  private[queries] val PlantEvery = 25L

  /** The LSH bucket front of q51, q55, q239, q266, q351 and q362, and of
    * the `_q51_input`/`_q55_input`/`_q351_input` assignments Verify
    * stages for their oracles: `corpus` (vec_id, embedding) as (vec_id,
    * e, payload…, bucket), one row per sign-LSH table, where `e` is the
    * float64 embedding and each `payload` column is computed over it. */
  private[queries] def lshBucketRows(corpus: DataFrame, tables: Int,
      bits: Int, payload: Column*): DataFrame = {
    val vecs = corpus.select(col("vec_id"), vec64(col("embedding")).as("e"))
      .select(col("*") +: payload: _*)
    vecs.withColumn("buckets", lshBuckets(col("e"), tables, bits))
      .select(vecs.columns.map(col) :+ explode(col("buckets")).as("bucket"): _*)
  }

  /** q51's ANN front: 8 tables of 4 bits. */
  private[queries] def annBucketRows(corpus: DataFrame): DataFrame =
    lshBucketRows(corpus, 8, 4)

  /** The scale path's front (q55 and the queries over its candidates):
    * 16 tables at the `autoLshBits` width of the corpus count (~30
    * vectors per bucket), returned beside the rows. */
  private[queries] def scaledBucketRows(corpus: DataFrame,
      payload: Column*): (DataFrame, Int) = {
    val bits = graft.functions.VectorKernels.autoLshBits(corpus.count())
    (lshBucketRows(corpus, 16, bits, payload: _*), bits)
  }

  /** DuckDB side of [[lshBucketRows]] over a staged assignment table:
    * `b` (bucket, vec_id) read from `input`, and `cand`, the DISTINCT
    * (`ida`, `idb`) pairs sharing a bucket whose ids `a.vec_id` and
    * `bb.vec_id` satisfy `pred`. */
  private def sqlLshCand(input: String, ida: String, idb: String,
      pred: String): String =
    s"""b AS (SELECT bucket, vec_id FROM ${VerifyInputs.staged(input)}),
        cand AS (SELECT DISTINCT a.vec_id AS $ida, bb.vec_id AS $idb
                 FROM b a JOIN b bb ON a.bucket = bb.bucket AND $pred)"""

  /** q357's int8 scalar quantize → dequantize front over (vec_id, e):
    * per-dim corpus min/max census, 255-bin FLOOR codes, reconstruction
    * v̂ = lo + code·(hi−lo)/255 — the value an int8-storing retrieval
    * stack actually scores with (raw offset-code dots destroy cosine
    * geometry: measured recall 0 on the gate's first draft). Every step
    * is exact, engine-identical double arithmetic; factored out so
    * Round15PropertySpec can pin the quantized ranking's rank-5/rank-6
    * cosine margin on the same code the gate runs. */
  private[queries] def int8Dequant(emb: DataFrame): DataFrame = {
    val mm = emb.select(posexplode(col("e")).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(d, lo)))," +
        " x -> x.lo)").as("lo_arr"),
        expr("transform(array_sort(collect_list(struct(d, hi)))," +
          " x -> x.hi)").as("hi_arr"))
    emb.crossJoin(broadcast(mm))
      .select(col("vec_id"), expr(
        "transform(sequence(1, size(e)), i -> CASE" +
          " WHEN element_at(hi_arr, i) = element_at(lo_arr, i)" +
          " THEN element_at(lo_arr, i)" +
          " ELSE element_at(lo_arr, i) + CAST(LEAST(CAST(255 AS DOUBLE)," +
          " GREATEST(CAST(0 AS DOUBLE)," +
          " FLOOR((element_at(e, i) - element_at(lo_arr, i)) * 255" +
          " / (element_at(hi_arr, i) - element_at(lo_arr, i)))))" +
          " AS BIGINT) * (element_at(hi_arr, i) - element_at(lo_arr, i))" +
          " / 255 END)").as("r"))
      .localCheckpoint(false)
  }

  /** q351's corpus: the embeddings table plus a JITTERED copy of every
    * 25th vector (deterministic Murmur3-keyed per-element perturbation,
    * ‖δ‖² ≈ 0.026 on unit vectors → planted cosine ≈ 0.987 — the
    * production near-dup zone). The testdata embeddings are pure noise
    * vectors (cos background N(0, 1/√64); max source pair 0.6), so at a
    * 0.80 threshold EVERY output pair is planted and output cardinality
    * is ∝ N by construction — the property that makes the q351
    * rehearsal row linear where q55's 3σ-threshold output is ∝ N²
    * tail-pair math. */
  private[queries] def plantedNearDupCorpus(spark: SparkSession,
      dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val copies = base
      .filter(pmod(col("vec_id"), lit(PlantEvery)) === 0L)
      .withColumn("embedding", expr(
        "transform(embedding, (x, j) ->" +
          " CAST(x + (pmod(hash(vec_id, j), 7) - 3) * 0.01D AS FLOAT))"))
      .withColumn("vec_id", col("vec_id") + lit(PlantOff))
    base.unionAll(copies)
  }

  /** q362's ratio-margin scorer over a cross-corpus candidate-pair table
    * (id_a, id_b, c) with c = floor(1e9·cos) > 0: per-side top-k sums
    * with k_eff = min(k, |candidates|), then the exact BIGINT margin
    * margin_ppm = c·(ka+kb)·10⁶ div (Σa+Σb). Factored out so
    * Round15PropertySpec can pin the margin law and the mutual-argmax
    * mining rule on hand-built candidate lists with hand-computed
    * closed-form margins. */
  private[queries] def ratioMarginScore(pairs: DataFrame, k: Int): DataFrame = {
    val wA = Window.partitionBy(col("id_a")).orderBy(col("c").desc, col("id_b"))
    val wB = Window.partitionBy(col("id_b")).orderBy(col("c").desc, col("id_a"))
    val sa = pairs.withColumn("r", row_number().over(wA))
      .filter(col("r") <= k).groupBy(col("id_a"))
      .agg(count(lit(1)).as("ka"), sum(col("c")).as("suma"))
    val sb = pairs.withColumn("r", row_number().over(wB))
      .filter(col("r") <= k).groupBy(col("id_b"))
      .agg(count(lit(1)).as("kb"), sum(col("c")).as("sumb"))
    pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("c * (ka + kb) * 1000000 div (suma + sumb)").as("margin_ppm"))
  }

  /** q362's mining rule: mutual argmax by margin (ties on partner id)
    * above the ppm threshold. */
  private[queries] def mineMutualArgmax(scored: DataFrame,
      thresholdPpm: Long): DataFrame = {
    val wXm = Window.partitionBy(col("id_a"))
      .orderBy(col("margin_ppm").desc, col("id_b"))
    val wYm = Window.partitionBy(col("id_b"))
      .orderBy(col("margin_ppm").desc, col("id_a"))
    scored
      .withColumn("rx", row_number().over(wXm))
      .withColumn("ry", row_number().over(wYm))
      .filter(col("rx") === 1 && col("ry") === 1 &&
        col("margin_ppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("margin_ppm"))
  }

  /** q50's exact top-5 neighbours by cosine; q58's bounded-heap aggregator
    * equals it by law. */
  private val ExactTopKOracle: String = """
        WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        s AS (SELECT qid, vec_id, list_cosine_similarity(qe, e) AS cos
              FROM q JOIN c ON vec_id != qid),
        r AS (SELECT qid, vec_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, vec_id) AS rn
              FROM s)
        SELECT qid, rn, vec_id, ROUND(cos, 6) AS cosine
        FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  /** The staged q351 inputs: `eb` (the planted corpus as (vec_id, emb)),
    * then `b` and `cand` ([[sqlLshCand]]) over its bucket assignments. */
  private def plantedInputCtes(pred: String): String = s"""WITH eb AS (SELECT vec_id, CAST(list(val ORDER BY j) AS DOUBLE[])
                      AS emb
                    FROM ${VerifyInputs.staged("_q351_emb")}
                    GROUP BY vec_id),
        ${sqlLshCand("_q351_input", "id_a", "id_b", pred)}"""

  /** Corpus counts of the planted-pair cards: `cnts` (base and planted
    * vectors in `eb`) and `bits`, the LSH width `autoLshBits`
    * derives from the corpus size. */
  private val PlantedCountCtes: String = s"""cnts AS (SELECT CAST(SUM(CASE WHEN vec_id < $PlantOff
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                        CAST(SUM(CASE WHEN vec_id >= $PlantOff
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
                 FROM eb),
        bits AS (SELECT LEAST(24, GREATEST(4,
                   CAST(CEIL(LOG2((SELECT COUNT(*) FROM eb) / 30.0))
                     AS BIGINT))) AS lsh_bits)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q50: exact brute-force cosine top-k (broadcast query side) ----
    "q50_knn_bruteforce" -> QueryDef(
      build = (spark, dir) => {
        val cand = Tables.embeddings(spark, dir)
          .select(col("vec_id"), vec64(col("embedding")).as("e"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        cand.join(broadcast(queryVecs(spark, dir)), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), cosine(col("qe"), col("e")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"),
            round(col("cos"), 6).as("cosine"))
          .orderBy(col("qid"), col("rn"))
      },
      oracle = Some(ExactTopKOracle),
      headline = true),

    // ---- q51: LSH-bucketed approximate NN (the 100 TB path) ----
    // Multi-table sign-LSH: candidates collide in ANY of 8 four-bit
    // tables (OR-amplification), then exact cosine re-ranks. The bucket
    // equijoin replaces the full cross product; recall < 1 by design, so
    // the answer set is bucketing-dependent — Verify materializes the
    // (bucket, vec_id) assignments (_q51_input) and DuckDB independently
    // re-runs candidate generation, exact cosine re-rank, AND the exact
    // top-5 evidence join from the raw embeddings. The ScalaTest spec
    // additionally checks recall on planted near-duplicates, and
    // compare.py's self-check bounds measured recall@5.
    "q51_ann_lsh" -> QueryDef(
      build = (spark, dir) => {
        val cand = annBucketRows(Tables.embeddings(spark, dir))
        val q = cand.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("bucket"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        cand.join(broadcast(q), Seq("bucket"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qe"), col("vec_id"), col("e"))
          .dropDuplicates("qid", "vec_id")
          .select(col("qid"), col("vec_id"), cosine(col("qe"), col("e")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          // evidence column: is this approximate neighbor in the EXACT
          // top-5? (self-certifying recall@5 — checked by compare.py)
          .join(exactTopK(spark, dir, 5), Seq("qid", "vec_id"), "left")
          .na.fill(false, Seq("in_exact_topk"))
          .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"),
            round(col("cos"), 6).as("cosine"), col("in_exact_topk"))
          .orderBy(col("qid"), col("rn"))
      },
      oracle = Some(s"""
        WITH ${sqlLshCand("_q51_input", "qid", "vec_id",
          "a.vec_id < 10 AND bb.vec_id != a.vec_id")},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        $RerankTopKTail""")),

    // ---- q54: IVF-style coarse-quantized ANN (alternate scale path) ----
    // Deterministic coarse index: the k lowest-id vectors serve as cell
    // centroids (broadcast); every vector joins its argmax-cosine cell.
    // A query probes its nprobe nearest cells and re-ranks exactly inside
    // them — the scan shrinks ~k/nprobe-fold vs brute force. Recall < 1 by
    // design, but every stage is plain relational algebra over the
    // embeddings (the centroid choice is deterministic: lowest 16 ids), so
    // the oracle recomputes the WHOLE index end-to-end in DuckDB with no
    // materialized input — assignment argmax, probe cells, candidate
    // equijoin, exact re-rank, and the exact-top-5 evidence join
    // (list_cosine_similarity ≡ the codegen'd cosine, proven bit-identical
    // by the q50/q52 gates). VectorsSpec asserts planted-neighbor recall.
    // At 100 TB the assignment pass is one broadcast join and the
    // probe is a cell-partitioned equijoin — no all-pairs anywhere.
    "q54_ann_ivf" -> QueryDef(
      build = (spark, dir) => {
        val k = 16
        val nprobe = 2
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"), vec64(col("embedding")).as("e"))
        val cents = e.orderBy(col("vec_id")).limit(k)
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val sims = e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("e"), col("cid"),
            cosine(col("e"), col("ce")).as("sim"))
        val byCell = Window.partitionBy(col("vec_id"))
          .orderBy(col("sim").desc, col("cid"))
        val ranked = sims.withColumn("cr", row_number().over(byCell))
        val assigned = ranked.filter(col("cr") === 1)
          .select(col("vec_id"), col("e"), col("cid"))
        val probes = ranked.filter(col("vec_id") < 10 and col("cr") <= nprobe)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("cid"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        assigned.join(broadcast(probes), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .dropDuplicates("qid", "vec_id")
          .select(col("qid"), col("vec_id"), cosine(col("qe"), col("e")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .join(exactTopK(spark, dir, 5), Seq("qid", "vec_id"), "left")
          .na.fill(false, Seq("in_exact_topk"))
          .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"),
            round(col("cos"), 6).as("cosine"), col("in_exact_topk"))
          .orderBy(col("qid"), col("rn"))
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
        ${Dedup.CellSimsCtes},
        ranked AS (SELECT vec_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cid) AS cr
                   FROM sims),
        assigned AS (SELECT vec_id, cid FROM ranked WHERE cr = 1),
        probes AS (SELECT vec_id AS qid, cid
                   FROM ranked WHERE vec_id < 10 AND cr <= 2),
        cand AS (SELECT DISTINCT p.qid, a.vec_id
                 FROM assigned a JOIN probes p ON a.cid = p.cid
                 WHERE a.vec_id != p.qid),
        $RerankTopKTail""")),

    // ---- q55: LSH-bucketed near-dup (the benched scale path) ----
    // Candidate generation by multi-table sign-LSH bucket equijoin, exact
    // cosine verify at the q52 threshold. Precision is 1 by construction
    // (the verify stage is exact, so output ⊆ q52's answer); recall < 1.
    //
    // Why no oracle (and why q46-style recall=1 is impossible here): the
    // testdata's qualifying pairs all sit at cosine 0.38-0.5, i.e. hyper-
    // plane bit-agreement p≈0.62-0.67 vs 0.50 for random pairs — an LSH
    // exponent ρ = ln p_sim / ln p_rand ≈ 0.69. Measured on the sf0.01
    // pairs (500 vectors, 112 true pairs): recall 0.99 needs T=32/b=4
    // tables whose candidate set is 86% of ALL pairs — pruning vanishes
    // before recall reaches 1, at every (T, b). MinHash banding (q46)
    // could hash-match its exact oracle because Jaccard shingle overlap
    // separates planted dups far more sharply. Operating point here:
    // T=16 tables x 6 bits ≈ 4x candidate pruning at ~0.7 recall on this
    // regime, recall → 1 above ~0.8 cosine (the production near-dup zone;
    // VectorsSpec asserts planted-pair recall and the subset property).
    // Bucket BITS grow ~log N to hold occupancy constant
    // (VectorKernels.autoLshBits, ~30 vectors/bucket — the operating
    // point BASELINE.md's "Embedding near-dup scaling" measured: recall
    // 1 on planted pairs with near-flat cost through 100k vectors). The
    // corpus count feeding the policy is a metadata-cheap 0-column scan;
    // at real scale it comes from table statistics instead.
    "q55_neardup_scale" -> QueryDef(
      build = (spark, dir) => {
        val (cand, _) = scaledBucketRows(Tables.embeddings(spark, dir),
          norm(col("e")).as("nrm"))
        val a = cand.select(col("bucket"), col("vec_id").as("id_a"),
          col("e").as("ea"), col("nrm").as("na"))
        val b = cand.select(col("bucket"), col("vec_id").as("id_b"),
          col("e").as("eb"), col("nrm").as("nb"))
        // Verify + threshold BEFORE dedup: a pair colliding in k tables is
        // verified k times (cheap codegen'd dot) but its cosine is
        // identical each time, so dropDuplicates after the filter is
        // equivalent — and the dedup shuffle then carries 3 scalar columns
        // for the ~matching pairs only, never the embedding arrays.
        a.join(b, Seq("bucket"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
          .filter(col("cos") >= 0.38)
          .dropDuplicates("id_a", "id_b")
          .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
          .orderBy(col("id_a"), col("id_b"))
      },
      // Bucket assignments are engine-specific, so Verify materializes
      // them (_q55_input) and DuckDB independently re-runs candidate
      // generation + exact cosine verify over the identical assignments —
      // the benched scale path is value-checked, with only the bucketing
      // function itself left to spec coverage (VectorsSpec recall/subset).
      oracle = Some(s"""
        WITH ${sqlLshCand("_q55_input", "id_a", "id_b", "a.vec_id < bb.vec_id")},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        SELECT c.id_a, c.id_b,
               ROUND(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
        WHERE list_cosine_similarity(ea.emb, eb.emb) >= 0.38
        ORDER BY id_a, id_b"""),
      // GATE-ONLY since round 14 (VERDICT r13 #5): at this 3σ-of-noise
      // threshold the verified-pair OUTPUT grows ∝ N² by distribution
      // -tail math (round-13 diagnosis), so its 10× rehearsal row
      // measured fixture physics, not engine cost. The benched near-dup
      // lineage is q351 (the ≥0.80 production threshold, output ∝
      // planted dups); this stays as the correctness gate for the
      // LSH-candidate → exact-verify shape.
      headline = false),

    // ---- q52: all-pairs embedding near-duplicates ----
    // Exact all-pairs with id-ordered dedup; the oracle-verifiable exact
    // form and the verify stage of q55's LSH candidate generation — NOT
    // the scale path (O(N²) pairs; q55 is the benched scale entry).
    "q52_embedding_neardup" -> QueryDef(
      build = (spark, dir) => {
        // Norms precomputed once per row (O(N)) so each of the O(N²) pairs
        // costs exactly one codegen'd dot product; dot/(na*nb) is the same
        // IEEE op sequence as cosine(), so values stay oracle-identical.
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"), vec64(col("embedding")).as("e"))
          .withColumn("nrm", norm(col("e")))
        val a = e.select(col("vec_id").as("id_a"), col("e").as("ea"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("id_b"), col("e").as("eb"), col("nrm").as("nb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
          .filter(col("cos") >= 0.38)
          .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
          .orderBy(col("id_a"), col("id_b"))
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.emb, b.emb) >= 0.38
        ORDER BY id_a, id_b""")),

    // ---- q58: exact KNN via typed bounded-heap Aggregator ----
    // Same semantics (and oracle) as q50, computed with the UDAF extension
    // point instead of sort+window: partial aggregation ships at most k
    // rows per (query, map task) to the shuffle. The gate's hash compare
    // against the q50 oracle proves the aggregator's ordering/tie-break
    // contract.
    "q58_knn_topk_agg" -> QueryDef(
      build = (spark, dir) => {
        import spark.implicits._
        import graft.functions.TopKAggregator
        val cand = Tables.embeddings(spark, dir)
          .select(col("vec_id"), vec64(col("embedding")).as("e"))
        val pairs = cand.join(broadcast(queryVecs(spark, dir)), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), cosine(col("qe"), col("e")).as("cos"))
          .as[(Long, Long, Double)]
        pairs.groupByKey(_._1)
          .agg(TopKAggregator.topKOfRow(5).toColumn.name("top"))
          .flatMap { case (qid, top) =>
            top.zipWithIndex.map { case (s, i) => (qid, i + 1, s.id, s.score) }
          }
          .toDF("qid", "rn", "vec_id", "cos")
          .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"),
            round(col("cos"), 6).as("cosine"))
          .orderBy(col("qid"), col("rn"))
      },
      oracle = Some(ExactTopKOracle)),

    // ---- q53: per-label vector statistics ----
    "q53_vector_stats" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.embeddings(spark, dir)
          .select(col("label"), col("vec_id"),
                  round(norm(vec64(col("embedding"))), 9).as("nrm"))
        e.groupBy(col("label"))
          .agg(
            count(lit(1)).as("n"),
            min(col("nrm")).as("min_norm"),
            max(col("nrm")).as("max_norm"),
            round(sum(col("nrm").cast(DecimalType(28, 9))).cast(DoubleType) /
                  count(lit(1)), 6).as("avg_norm"))
          .orderBy(col("label"))
      },
      oracle = Some("""
        WITH e AS (SELECT label,
                          ROUND(sqrt(list_dot_product(
                            CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[]))), 9) AS nrm
                   FROM embeddings)
        SELECT label, COUNT(*) AS n,
               MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
               ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
                 AS avg_norm
        FROM e GROUP BY label ORDER BY label""")),

    // ---- q97: hard-negative mining ----
    // For each query vector, the top-5 most similar vectors whose LABEL
    // DIFFERS — the contrastive-training data op (hard negatives are the
    // near-misses a retriever/embedding model learns the most from).
    // Same broadcast-query + per-qid bounded window shape as q50; the
    // label inequality is applied before the top-k so the heap ranks
    // negatives only.
    "q97_hard_negatives" -> QueryDef(
      build = (spark, dir) => {
        val q = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            vec64(col("embedding")).as("qe"))
        val cand = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label"), vec64(col("embedding")).as("e"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        cand.join(broadcast(q), col("label") =!= col("qlabel"))
          .select(col("qid"), col("vec_id"), col("label"),
            cosine(col("qe"), col("e")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"),
            col("label").as("neg_label"), round(col("cos"), 6).as("cosine"))
          .orderBy(col("qid"), col("rn"))
      },
      oracle = Some("""
        WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                          CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
        s AS (SELECT qid, vec_id, label,
                     list_cosine_similarity(qe, e) AS cos
              FROM q JOIN c ON label != qlabel),
        r AS (SELECT qid, vec_id, label, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, vec_id) AS rn
              FROM s)
        SELECT qid, rn, vec_id, label AS neg_label, ROUND(cos, 6) AS cosine
        FROM r WHERE rn <= 5 ORDER BY qid, rn""")),

    // ---- q98: int8-quantized KNN with exact-top-k evidence ----
    // Symmetric per-vector int8 quantization (scale = max|x|/127,
    // q_i = round(x_i/scale)) and cosine over the quantized vectors —
    // the memory-bandwidth play at 100 TB: 4× smaller vectors, integer
    // dot products, one cheap rescale. Every quantized dot/norm is a sum
    // of EXACT small-integer products (≤ 127²·dim < 2^53), so the ranking
    // key is bit-identical in any engine and summation order is
    // irrelevant — quantization buys determinism, not just bandwidth.
    // The in_exact_topk column is the recall evidence: which quantized
    // winners the float-exact top-5 (q50's ranking) also contains.
    "q98_quantized_knn" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"), vec64(col("embedding")).as("v"))
          .withColumn("scale",
            array_max(transform(col("v"), x => abs(x))) / lit(127.0))
          .select(col("vec_id"), col("scale"),
            transform(col("v"), x => round(x / col("scale"), 0)).as("qi"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("scale").as("qscale"),
            col("qi").as("qqi"))
        val w = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("vec_id"))
        e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            ((dot(col("qqi"), col("qi")) * col("qscale") * col("scale")) /
              ((sqrt(dot(col("qqi"), col("qqi"))) * col("qscale")) *
                (sqrt(dot(col("qi"), col("qi"))) * col("scale")))).as("qcos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .join(exactTopK(spark, dir, 5), Seq("qid", "vec_id"), "left")
          .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"),
            round(col("qcos"), 6).as("qcosine"),
            coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
          .orderBy(col("qid"), col("rn"))
      },
      oracle = Some("""
        WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
        sc AS (SELECT vec_id, v,
                      list_max(list_transform(v, x -> abs(x))) / 127.0
                        AS scale
               FROM e0),
        e AS (SELECT vec_id, scale,
                     list_transform(v, x -> round(x / scale, 0)) AS qi
              FROM sc),
        q AS (SELECT vec_id AS qid, scale AS qscale, qi AS qqi FROM e
              WHERE vec_id < 10),
        p AS (SELECT qid, vec_id,
                     (list_dot_product(qqi, qi) * qscale * scale)
                     / ((sqrt(list_dot_product(qqi, qqi)) * qscale)
                        * (sqrt(list_dot_product(qi, qi)) * scale)) AS qcos
              FROM q JOIN e ON vec_id != qid),
        r AS (SELECT qid, vec_id, qcos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY qcos DESC, vec_id) AS rn
              FROM p),
        ex AS (SELECT qid, vec_id, TRUE AS in_exact_topk FROM (
                 SELECT q2.qid, c2.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY q2.qid
                          ORDER BY list_cosine_similarity(q2.qe, c2.e) DESC,
                                   c2.vec_id) AS xrn
                 FROM (SELECT vec_id AS qid,
                              CAST(embedding AS DOUBLE[]) AS qe
                       FROM embeddings WHERE vec_id < 10) q2
                 JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings) c2 ON c2.vec_id != q2.qid)
               WHERE xrn <= 5)
        SELECT r.qid, r.rn, r.vec_id, ROUND(r.qcos, 6) AS qcosine,
               COALESCE(ex.in_exact_topk, FALSE) AS in_exact_topk
        FROM r LEFT JOIN ex ON r.qid = ex.qid AND r.vec_id = ex.vec_id
        WHERE r.rn <= 5 ORDER BY r.qid, r.rn""")),

    // ---- q120: greedy k-center coreset selection (diversity sampling) ----
    // Gonzalez's farthest-point traversal: seed with the lowest id, then
    // repeatedly pick the vector FARTHEST (cosine distance) from every-
    // thing already selected. The resulting set 2-approximates the
    // optimal k-center cover — the standard coreset / diverse-subset
    // selector for training data ("pick k maximally-different examples"),
    // the corpus-wide dual of q115's per-query MMR.
    //
    // Scale shape: the state is ONE running min-dist column. Each pick
    // adds one center, and the update is a single map pass
    // d ← least(d, dist(x, new_center)) with the 1-row center broadcast —
    // never a k-way min recomputation, never a shuffle. Each argmax is a
    // TakeOrdered (per-partition heads). k picks = k linear passes, the
    // textbook cost of exact farthest-point traversal.
    //
    // Determinism: per-pair distance round(1 − cosine, 9) over exact
    // float→double casts; LEAST of rounded doubles; vec_id tie-break at
    // every argmax — the traversal is bit-identical across engines.
    "q120_kcenter_coreset" -> QueryDef(
      build = (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), vec64(col("embedding")).as("e"))
        val c1 = emb.orderBy(col("vec_id")).limit(1).localCheckpoint()
        var centers = c1.select(lit(1L).as("sel_rank"), col("vec_id"),
          lit(null).cast("double").as("dist"))
        var state = emb
          .crossJoin(broadcast(c1.select(col("e").as("ce"))))
          .select(col("vec_id"), col("e"),
            round(lit(1.0) - cosine(col("e"), col("ce")), 9).as("d"))
        for (k <- 2 to 5) {
          val next = state.orderBy(col("d").desc, col("vec_id")).limit(1)
            .localCheckpoint()
          centers = centers.unionByName(next.select(
            lit(k.toLong).as("sel_rank"), col("vec_id"),
            col("d").as("dist")))
          state = state
            .crossJoin(broadcast(next.select(col("e").as("ce"))))
            .select(col("vec_id"), col("e"),
              least(col("d"),
                round(lit(1.0) - cosine(col("e"), col("ce")), 9)).as("d"))
        }
        centers.orderBy(col("sel_rank"))
      },
      oracle = Some(kcenterOracle)),

    // ---- q193: per-class embedding centroid drift, integer-exact ----
    // The embedding-pipeline monitoring metric: did the vector
    // distribution MOVE between two cohorts (here the deterministic
    // vec_id-parity halves — in production, yesterday vs today)?
    // Per label: quantize each coordinate to integer 1e-4 units
    // (floor of a deterministic IEEE product, the q169 recipe), build
    // each half's per-dimension centroid as truncated integer division
    // s div n, and report the L1 distance between the two centroids in
    // quant units — exact integers end to end, no FP mean ever
    // compared. A drifting class shows a large l1_drift_q; the parity
    // split of an i.i.d. fixture shows small sampling noise.
    //
    // 100 TB posture: the event-scale stage is the (label, half, dim)
    // keyed partial agg over exploded coordinates (64·|vecs| rows,
    // map-side combined); the centroid join and L1 run at
    // |labels|·|dims| rows.
    "q193_embedding_drift" -> QueryDef(
      build = (spark, dir) => {
        val base = Tables.embeddings(spark, dir)
          .select(col("label"), (col("vec_id") % 2).as("half"),
            col("embedding"))
        val q = base
          .select(col("label"), col("half"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("label"), col("half"), col("dim"),
            expr("cast(floor(cast(x as double) * 10000) as bigint)").as("q"))
        val sums = q.groupBy(col("label"), col("half"), col("dim"))
          .agg(sum(col("q")).as("s"))
        val cnts = base.groupBy(col("label"), col("half"))
          .agg(count(lit(1)).as("n"))
        val m = sums.join(cnts, Seq("label", "half"))
          .select(col("label"), col("half"), col("dim"),
            expr("s div n").as("m"), col("n"))
        val a = m.filter(col("half") === 0)
          .select(col("label"), col("dim"), col("m").as("m0"), col("n").as("n0"))
        val b = m.filter(col("half") === 1)
          .select(col("label"), col("dim"), col("m").as("m1"), col("n").as("n1"))
        a.join(b, Seq("label", "dim"))
          .groupBy(col("label"))
          .agg(max(col("n0")).as("n_a"), max(col("n1")).as("n_b"),
            sum(abs(col("m0") - col("m1"))).as("l1_drift_q"))
          .orderBy(col("label"))
      },
      oracle = Some("""
        WITH x AS (
          SELECT label, vec_id % 2 AS half, embedding,
                 unnest(range(1, len(embedding) + 1)) AS dim
          FROM embeddings),
        q AS (
          SELECT label, half, dim,
                 CAST(floor(CAST(embedding[dim] AS DOUBLE) * 10000)
                   AS BIGINT) AS q
          FROM x),
        s AS (SELECT label, half, dim, CAST(SUM(q) AS BIGINT) AS s
              FROM q GROUP BY 1, 2, 3),
        c AS (SELECT label, vec_id % 2 AS half, COUNT(*) AS n
              FROM embeddings GROUP BY 1, 2),
        m AS (SELECT s.label, s.half, s.dim, s.s // c.n AS m, c.n
              FROM s JOIN c ON c.label = s.label AND c.half = s.half),
        a AS (SELECT label, dim, m AS m0, n AS n0 FROM m WHERE half = 0),
        b AS (SELECT label, dim, m AS m1, n AS n1 FROM m WHERE half = 1)
        SELECT a.label, CAST(MAX(n0) AS BIGINT) AS n_a,
               CAST(MAX(n1) AS BIGINT) AS n_b,
               CAST(SUM(ABS(m0 - m1)) AS BIGINT) AS l1_drift_q
        FROM a JOIN b ON b.label = a.label AND b.dim = a.dim
        GROUP BY a.label ORDER BY a.label""")),

    // ---- q239: mutual (reciprocal) k-NN filter over LSH candidates ----
    // The high-precision pair filter alignment and dedup pipelines run
    // on top of ANN candidates: keep (a, b) only when b is in a's top-3
    // AND a is in b's top-3 — reciprocity kills hub vectors (a generic
    // centroid-ish vector sits in everyone's top-k, but almost nobody
    // sits in ITS top-k), which plain thresholding (q55) cannot. Ranks
    // are computed WITHIN each vector's LSH candidate set (the only
    // neighbor list that exists at scale — nobody materializes the full
    // kNN graph), ordered by the exact codegen'd cosine with a vec_id
    // tie-break; q52's oracle proved the cosine doubles bit-identical
    // across engines, so ranking is too. The oracle re-runs candidate
    // generation, per-vector ranking, and the reciprocity join over the
    // same materialized bucket assignments (`_q55_input`).
    //
    // 100 TB posture: q55's LSH shape (bucket equijoin, no all-pairs)
    // plus one vec-keyed rank window over candidate rows and a keyed
    // self-join of two top-3 tables (≤ 3 rows per vector each side).
    "q239_mutual_knn" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val (cand, _) = scaledBucketRows(Tables.embeddings(spark, dir),
          norm(col("e")).as("nrm"))
        val a = cand.select(col("bucket"), col("vec_id").as("ia"),
          col("e").as("ea"), col("nrm").as("na"))
        val b = cand.select(col("bucket"), col("vec_id").as("ib"),
          col("e").as("eb"), col("nrm").as("nb"))
        val scored = a.join(b, Seq("bucket"))
          .filter(col("ia") =!= col("ib"))
          .select(col("ia"), col("ib"),
            (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
          .dropDuplicates("ia", "ib") // multi-table collisions: same cos
        val w = Window.partitionBy(col("ia"))
          .orderBy(col("cos").desc, col("ib"))
        val top = scored.withColumn("r", row_number().over(w))
          .filter(col("r") <= 3)
          .select(col("ia"), col("ib"), col("cos"))
        val rev = top.select(col("ib").as("ja"), col("ia").as("jb"))
        top.join(rev,
            col("ia") === col("ja") && col("ib") === col("jb"), "left_semi")
          .filter(col("ia") < col("ib"))
          .select(col("ia").as("id_a"), col("ib").as("id_b"),
            round(col("cos"), 6).as("cosine"))
          .orderBy(col("id_a"), col("id_b"))
      },
      oracle = Some(s"""
        WITH ${sqlLshCand("_q55_input", "ia", "ib", "a.vec_id <> bb.vec_id")},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings),
        sc AS (SELECT c.ia, c.ib,
                      list_cosine_similarity(ea.emb, eb.emb) AS cos
               FROM cand c
               JOIN e ea ON ea.vec_id = c.ia
               JOIN e eb ON eb.vec_id = c.ib),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ia
                           ORDER BY cos DESC, ib) AS r
               FROM sc),
        top AS (SELECT ia, ib, cos FROM rk WHERE r <= 3)
        SELECT t1.ia AS id_a, t1.ib AS id_b, ROUND(t1.cos, 6) AS cosine
        FROM top t1
        WHERE t1.ia < t1.ib
          AND EXISTS (SELECT 1 FROM top t2
                      WHERE t2.ia = t1.ib AND t2.ib = t1.ia)
        ORDER BY id_a, id_b""")),

    // ---- q266: Local Outlier Factor over LSH-candidate kNN ----
    // Density-RELATIVE outlier scoring (Breunig et al. '00) — the
    // embedding-space audit q133's median/MAD (value-space) cannot do:
    // a point is anomalous iff its local density is low COMPARED TO its
    // neighbors', so clusters of different densities don't fool it.
    // kNN (k=5) comes from the q55/q239 LSH candidate sets (the only
    // neighbor lists that exist at scale); distances are the exact
    // integer quantized L2² (the q247 kernel), and LOF itself is made
    // integer-exact through the identity LOF(a) = (1/k)·Σ_b
    // sumreach(a)/sumreach(b): each ratio is one portable integer
    // division ·10⁶, so no lrd float is ever materialized. Vectors
    // whose candidate set is short of k, whose neighbors lack a full
    // kNN, or that sit in an exact-duplicate clique (sum reach = 0 —
    // dedup's job, not LOF's) are excluded; n_scored reports the
    // surviving population next to the top-20 outliers.
    //
    // 100 TB posture: bucket equijoin (never all-pairs), one vec-keyed
    // rank window over candidate rows, then three keyed joins over
    // ≤ k-row-per-vector tables — the 2-hop neighborhood LOF needs,
    // each hop a keyed equijoin.
    "q266_lof_outliers" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 5
        val (cand, _) = scaledBucketRows(Tables.embeddings(spark, dir),
          expr("transform(e, x -> cast(floor(x * 10000) as long))").as("q"))
        val a = cand.select(col("bucket"), col("vec_id").as("ia"),
          col("q").as("qa"))
        val b = cand.select(col("bucket"), col("vec_id").as("ib"),
          col("q").as("qb"))
        val scored = a.join(b, Seq("bucket"))
          .filter(col("ia") =!= col("ib"))
          .select(col("ia"), col("ib"),
            expr("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y))," +
              " 0L, (acc, v) -> acc + v)").as("d2"))
          .dropDuplicates("ia", "ib")
        val w = Window.partitionBy(col("ia")).orderBy(col("d2"), col("ib"))
        val knn = scored.withColumn("r", row_number().over(w))
          .filter(col("r") <= k)
        val full = knn.groupBy(col("ia"))
          .agg(count(lit(1)).as("cnt"),
            max(when(col("r") === k, col("d2"))).as("kdist"))
          .filter(col("cnt") === k).select(col("ia"), col("kdist"))
        val reach = knn.join(full.select(col("ia")), Seq("ia"))
          .join(full.select(col("ia").as("ib"),
            col("kdist").as("kdist_b")), Seq("ib"))
          .select(col("ia"), col("ib"),
            greatest(col("d2"), col("kdist_b")).as("rd"))
        val sums = reach.groupBy(col("ia"))
          .agg(count(lit(1)).as("m"), sum(col("rd")).as("sumrd"))
          .filter(col("m") === k && col("sumrd") > 0)
          .select(col("ia"), col("sumrd"))
        val terms = reach
          .join(sums, Seq("ia"))
          .join(sums.select(col("ia").as("ib"),
            col("sumrd").as("sumrd_b")), Seq("ib"))
          .select(col("ia"), col("sumrd"),
            expr("sumrd * 1000000 div sumrd_b").as("term"))
        val lof = terms.groupBy(col("ia"), col("sumrd"))
          .agg(count(lit(1)).as("mm"), sum(col("term")).as("sterm"))
          .filter(col("mm") === k)
          .join(full, Seq("ia"))
          .select(col("ia").as("vec_id"), col("kdist"),
            col("sumrd").as("sum_reach"),
            expr(s"sterm div ${k}L").as("lof_ppm"))
        val su = lof.agg(count(lit(1)).as("n_scored"),
          sum(when(col("lof_ppm") > 1300000L, 1L).otherwise(0L))
            .as("n_above_1_3"))
        lof.orderBy(col("lof_ppm").desc, col("vec_id")).limit(20)
          .crossJoin(broadcast(su))
          .orderBy(col("lof_ppm").desc, col("vec_id"))
      },
      oracle = Some(s"""
        WITH ${sqlLshCand("_q55_input", "ia", "ib", "a.vec_id <> bb.vec_id")},
        e AS (SELECT vec_id, list_transform(embedding, x ->
                CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
              FROM embeddings),
        sc AS (SELECT c.ia, c.ib,
                      CAST(list_sum(list_transform(list_zip(ea.q, eb.q),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
               FROM cand c JOIN e ea ON ea.vec_id = c.ia
                           JOIN e eb ON eb.vec_id = c.ib),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ia
                 ORDER BY d2, ib) AS r FROM sc),
        knn AS (SELECT ia, ib, d2, r FROM rk WHERE r <= 5),
        fl AS (SELECT ia, CAST(MAX(CASE WHEN r = 5 THEN d2 END) AS BIGINT)
                       AS kdist
               FROM knn GROUP BY ia HAVING COUNT(*) = 5),
        reach AS (SELECT k.ia, k.ib, GREATEST(k.d2, fb.kdist) AS rd
                  FROM knn k JOIN fl fa ON fa.ia = k.ia
                             JOIN fl fb ON fb.ia = k.ib),
        sums AS (SELECT ia, CAST(SUM(rd) AS BIGINT) AS sumrd
                 FROM reach GROUP BY ia
                 HAVING COUNT(*) = 5 AND SUM(rd) > 0),
        terms AS (SELECT r.ia, sa.sumrd,
                         sa.sumrd * 1000000 // sb.sumrd AS term
                  FROM reach r JOIN sums sa ON sa.ia = r.ia
                               JOIN sums sb ON sb.ia = r.ib),
        lof AS (SELECT t.ia AS vec_id, f.kdist, t.sumrd AS sum_reach,
                       CAST(SUM(t.term) AS BIGINT) // 5 AS lof_ppm
                FROM terms t JOIN fl f ON f.ia = t.ia
                GROUP BY t.ia, f.kdist, t.sumrd
                HAVING COUNT(*) = 5),
        su AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
                      CAST(SUM(CASE WHEN lof_ppm > 1300000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_above_1_3
               FROM lof)
        SELECT t.vec_id, t.kdist, t.sum_reach, t.lof_ppm,
               su.n_scored, su.n_above_1_3
        FROM (SELECT * FROM lof
              ORDER BY lof_ppm DESC, vec_id LIMIT 20) t CROSS JOIN su
        ORDER BY t.lof_ppm DESC, t.vec_id""")),

    // ---- q241: Johnson–Lindenstrauss projection, distortion-audited ----
    // Random ±1 projection 64-d → 16-d — the dimensionality-reduction
    // step ANN/dedup pipelines run before bucketing when the embedding
    // is wide. Signs come from md5(k || '_' || d) (the engine-portable
    // hash), inputs are the 1e4-quantized integers, so the projection is
    // pure BIGINT and bit-identical in both engines. The AUDIT is the
    // JL lemma made measurable: for the deterministic (even, even+1)
    // pair set, the ratio of projected to original squared distance
    // (scaled by the 16× expectation factor) is histogrammed in 0.2-
    // wide ppm bins — mass concentrates at 1.0 exactly as the lemma
    // promises, and any sign/packing bug moves it.
    //
    // 100 TB posture: the projection is per-row arithmetic over a
    // 16×64 LITERAL sign matrix (no join, no shuffle — Spark evaluates
    // it inside codegen); the pair join is a keyed equijoin on vec_id;
    // the histogram is ≤ 10 rows.
    "q241_jl_projection" -> QueryDef(
      build = (spark, dir) => {
        val md = java.security.MessageDigest.getInstance("MD5")
        def sign(k: Int, d: Int): Long = {
          val h = md.digest(s"${k}_$d".getBytes("UTF-8"))
          val c = "0123456789abcdef".charAt((h(0) >> 4) & 0xf)
          if ("89abcdef".indexOf(c) >= 0) 1L else -1L
        }
        val signs = array((0 until 16).map(k =>
          array((0 until 64).map(d => lit(sign(k, d))): _*)): _*)
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"),
            expr("transform(embedding, x -> " +
              "cast(floor(cast(x as double) * 10000) as long))").as("q"))
          .withColumn("sm", signs)
          .withColumn("y", expr("transform(sequence(0, 15), k -> " +
            "aggregate(zip_with(q, element_at(sm, k + 1), " +
            "(a, s) -> a * s), 0L, (acc, v) -> acc + v))"))
          .select(col("vec_id"), col("q"), col("y"))
        val a = e.select(col("vec_id").as("ia"), col("q").as("qa"),
          col("y").as("ya")).filter(col("ia") % 2 === 0)
        val b = e.select((col("vec_id") - 1).as("ia"), col("q").as("qb"),
          col("y").as("yb"))
        val pairs = a.join(b, Seq("ia"))
          .select(
            expr("aggregate(zip_with(qa, qb, (x, z) -> (x - z) * (x - z)), " +
              "0L, (acc, v) -> acc + v)").as("d_orig"),
            expr("aggregate(zip_with(ya, yb, (x, z) -> (x - z) * (x - z)), " +
              "0L, (acc, v) -> acc + v)").as("d_proj"))
          .filter(col("d_orig") > 0)
          .select(expr("(d_proj * 1000000) div (d_orig * 16)").as("ratio_ppm"))
        pairs
          .select(least(expr("ratio_ppm div 200000"), lit(9L)).as("bin"),
            col("ratio_ppm"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("ratio_ppm")).as("min_ppm"),
            max(col("ratio_ppm")).as("max_ppm"))
          .orderBy(col("bin"))
      },
      oracle = Some("""
        WITH sgn AS (
          SELECT k, d,
                 CASE WHEN instr('89abcdef',
                        substring(md5(k || '_' || d), 1, 1)) > 0
                      THEN 1 ELSE -1 END AS s
          FROM (SELECT unnest(generate_series(0, 15)) AS k),
               (SELECT unnest(generate_series(0, 63)) AS d)),
        q AS (SELECT vec_id,
                     list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))
                       AS qv
              FROM embeddings),
        dims AS (SELECT vec_id, d - 1 AS d, qv[d] AS x
                 FROM q, LATERAL (SELECT unnest(generate_series(1,
                          len(qv))) AS d) t),
        proj AS (SELECT dims.vec_id, sgn.k,
                        CAST(SUM(dims.x * sgn.s) AS BIGINT) AS y
                 FROM dims JOIN sgn ON sgn.d = dims.d
                 GROUP BY 1, 2),
        dorig AS (SELECT a.vec_id AS ia,
                         CAST(list_sum(list_transform(
                           list_zip(a.qv, b.qv),
                           p -> (p[1] - p[2]) * (p[1] - p[2])))
                           AS BIGINT) AS d_orig
                  FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
                  WHERE a.vec_id % 2 = 0),
        dproj AS (SELECT a.vec_id AS ia,
                         CAST(SUM((a.y - b.y) * (a.y - b.y)) AS BIGINT)
                           AS d_proj
                  FROM proj a JOIN proj b
                    ON b.vec_id = a.vec_id + 1 AND b.k = a.k
                  WHERE a.vec_id % 2 = 0 GROUP BY 1),
        r AS (SELECT (d_proj * 1000000) // (d_orig * 16) AS ratio_ppm
              FROM dorig JOIN dproj USING (ia) WHERE d_orig > 0)
        SELECT LEAST(ratio_ppm // 200000, 9) AS bin,
               COUNT(*) AS n_pairs,
               MIN(ratio_ppm) AS min_ppm, MAX(ratio_ppm) AS max_ppm
        FROM r GROUP BY 1 ORDER BY bin""")),

    // ---- q247: product quantization (PQ codebooks + ADC recall audit) ----
    // The billion-vector ANN compression path (Jégou et al., TPAMI'11)
    // completing the similarity-search ladder (exact q50 → LSH q51 →
    // IVF q54 → int8 q98 → coreset q120): 64 dims split into m=4
    // subspaces, a k=4 codebook per subspace trained with 2 fixed-point
    // Lloyd rounds on the DETERMINISTIC HALF-SAMPLE vec_id % 2 = 0
    // (codebooks need a bounded sample, never the corpus), then EVERY
    // vector encoded to its 4 nearest-centroid ids IN-ROW against the
    // collected kilobyte codebook — the full-corpus scan shuffles
    // nothing (see [[graft.operators.ProductQuantizer]]). The report is
    // the audit a pipeline runs before trusting PQ recall: per-query
    // ADC-top-10 ∩ exact-top-10 (integer distances, (d, vec_id)
    // tie-break) plus codebook-utilization evidence (distinct codes,
    // max code population, total quantization error). The oracle
    // replays training by the q124 recipe and re-derives the encoding
    // by a DIFFERENT algorithm (relational argmin over the c2 join, vs
    // the gate's in-row literal-codebook argmin).
    "q247_product_quantization" -> QueryDef(
      build = (spark, dir) => {
        import graft.operators.{ProductQuantizer => PQ}
        val m = 4; val subDim = 16; val k = 4
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"), PQ.quant(vec64(col("embedding"))).as("v"))
          .localCheckpoint(false)
        val trainSub = PQ.subvectors(e.filter(col("vec_id") % 2 === 0), m, subDim)
        val centsDf = PQ.trainCodebooks(trainSub, k, iters = 2)
        val cb = PQ.collectCodebook(centsDf, m, subDim)
        val (codeC, qerrC) = PQ.encodeColumns(cb, col("v"))
        val codes = e.select(col("vec_id"), codeC.as("code"), qerrC.as("qerr"))
          .withColumn("code_str",
            concat_ws(",", transform(col("code"), _.cast("string"))))
          .localCheckpoint(false)
        val stats = codes.groupBy(col("code_str")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_codes"), max(col("n")).as("max_code_pop"))
        val inert = codes.agg(sum(col("qerr")).as("total_qerr"))
        // ADC audit: per-query LUT (5·m·k rows, broadcast), summed over
        // the exploded codes — map-side partial agg, 24-byte rows.
        val lut = PQ.subvectors(e.filter(col("vec_id") < 5), m, subDim)
          .select(col("vec_id").as("qid"), col("s"), col("sv"))
          .join(broadcast(centsDf), "s")
          .select(col("qid"), col("s"), col("cid"),
            PQ.sqDist(col("sv"), col("cv")).as("ld"))
        val adc = codes.select(col("vec_id"),
            posexplode(col("code")).as(Seq("s", "cid")))
          .join(broadcast(lut), Seq("s", "cid"))
          .filter(col("vec_id") =!= col("qid"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("ld")).as("ad"))
        val wA = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
        val adcTop = adc.withColumn("rn", row_number().over(wA))
          .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val ex = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), PQ.sqDist(col("v"), col("qv")).as("d"))
        val wE = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
        val exTop = ex.withColumn("rn", row_number().over(wE))
          .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
        val rec = adcTop.join(exTop, Seq("qid", "vec_id"))
          .groupBy(col("qid")).agg(count(lit(1)).as("hits_at_10"))
        q.select(col("qid")).join(rec, Seq("qid"), "left")
          .na.fill(0L, Seq("hits_at_10"))
          .crossJoin(broadcast(stats)).crossJoin(broadcast(inert))
          .select(col("qid"), col("hits_at_10"), col("n_codes"),
            col("max_code_pop"), col("total_qerr"))
          .orderBy(col("qid"))
      },
      oracle = Some("""
        WITH e AS MATERIALIZED (
          SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
          FROM embeddings),
        sub AS MATERIALIZED (
          SELECT vec_id, t.s, list_slice(v, t.s * 16 + 1, t.s * 16 + 16) AS sv
          FROM e, LATERAL (SELECT unnest([0, 1, 2, 3]) AS s) t),
        tr AS MATERIALIZED (SELECT * FROM sub WHERE vec_id % 2 = 0),
        ids AS (SELECT DISTINCT vec_id FROM tr ORDER BY vec_id LIMIT 4),
        c0 AS (SELECT tr.s, tr.vec_id AS cid, tr.sv AS cv
               FROM tr JOIN ids USING (vec_id)),
        d1 AS (SELECT tr.vec_id, tr.s, c.cid,
                      CAST(list_sum(list_transform(list_zip(tr.sv, c.cv),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
               FROM tr JOIN c0 c ON tr.s = c.s),
        a1 AS (SELECT vec_id, s, cid FROM (
                 SELECT vec_id, s, cid, ROW_NUMBER() OVER (
                   PARTITION BY vec_id, s ORDER BY d, cid) AS rn FROM d1)
               WHERE rn = 1),
        m1 AS (SELECT a1.s, a1.cid, t.i,
                      CAST(floor(CAST(SUM(t.x) AS DOUBLE) / COUNT(*))
                        AS BIGINT) AS comp
               FROM a1 JOIN tr ON a1.vec_id = tr.vec_id AND a1.s = tr.s,
                    LATERAL (SELECT unnest(tr.sv) AS x,
                                    generate_subscripts(tr.sv, 1) AS i) t
               GROUP BY 1, 2, 3),
        c1 AS MATERIALIZED (
          SELECT s, cid, list(comp ORDER BY i) AS cv FROM m1 GROUP BY 1, 2),
        d2 AS (SELECT tr.vec_id, tr.s, c.cid,
                      CAST(list_sum(list_transform(list_zip(tr.sv, c.cv),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
               FROM tr JOIN c1 c ON tr.s = c.s),
        a2 AS (SELECT vec_id, s, cid FROM (
                 SELECT vec_id, s, cid, ROW_NUMBER() OVER (
                   PARTITION BY vec_id, s ORDER BY d, cid) AS rn FROM d2)
               WHERE rn = 1),
        m2 AS (SELECT a2.s, a2.cid, t.i,
                      CAST(floor(CAST(SUM(t.x) AS DOUBLE) / COUNT(*))
                        AS BIGINT) AS comp
               FROM a2 JOIN tr ON a2.vec_id = tr.vec_id AND a2.s = tr.s,
                    LATERAL (SELECT unnest(tr.sv) AS x,
                                    generate_subscripts(tr.sv, 1) AS i) t
               GROUP BY 1, 2, 3),
        c2 AS MATERIALIZED (
          SELECT s, cid, list(comp ORDER BY i) AS cv FROM m2 GROUP BY 1, 2),
        encd AS (SELECT sub.vec_id, sub.s, c.cid,
                        CAST(list_sum(list_transform(list_zip(sub.sv, c.cv),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
                 FROM sub JOIN c2 c ON sub.s = c.s),
        enc AS MATERIALIZED (
          SELECT vec_id, s, cid, d FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY vec_id, s ORDER BY d, cid) AS rn FROM encd)
          WHERE rn = 1),
        codes AS MATERIALIZED (
          SELECT vec_id,
                 string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s) AS code_str,
                 CAST(SUM(d) AS BIGINT) AS qerr
          FROM enc GROUP BY 1),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_codes,
                         CAST(MAX(n) AS BIGINT) AS max_code_pop FROM (
                    SELECT code_str, COUNT(*) AS n FROM codes GROUP BY 1)),
        inert AS (SELECT CAST(SUM(qerr) AS BIGINT) AS total_qerr FROM codes),
        lut AS (SELECT q.vec_id AS qid, c.s, c.cid,
                       CAST(list_sum(list_transform(list_zip(q.sv, c.cv),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS ld
                FROM sub q JOIN c2 c ON q.s = c.s WHERE q.vec_id < 5),
        adc AS (SELECT l.qid, enc.vec_id, CAST(SUM(l.ld) AS BIGINT) AS ad
                FROM enc JOIN lut l ON enc.s = l.s AND enc.cid = l.cid
                WHERE enc.vec_id != l.qid
                GROUP BY 1, 2),
        adctop AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id, ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY ad, vec_id) AS rn FROM adc)
                   WHERE rn <= 10),
        exd AS (SELECT q.vec_id AS qid, e.vec_id,
                       CAST(list_sum(list_transform(list_zip(e.v, q.v),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
                FROM e JOIN e AS q ON q.vec_id < 5 AND e.vec_id != q.vec_id),
        extop AS (SELECT qid, vec_id FROM (
                    SELECT qid, vec_id, ROW_NUMBER() OVER (
                      PARTITION BY qid ORDER BY d, vec_id) AS rn FROM exd)
                  WHERE rn <= 10),
        rec AS (SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS hits_at_10
                FROM adctop a JOIN extop x USING (qid, vec_id) GROUP BY 1),
        qids AS (SELECT vec_id AS qid FROM e WHERE vec_id < 5)
        SELECT q.qid, CAST(COALESCE(r.hits_at_10, 0) AS BIGINT) AS hits_at_10,
               s.n_codes, s.max_code_pop, i.total_qerr
        FROM qids q LEFT JOIN rec r USING (qid)
        CROSS JOIN stats s CROSS JOIN inert i
        ORDER BY q.qid""")),

    // ---- q260: top principal component (fixed-point power iteration) --
    // The spectral statistic an embedding pipeline reads before
    // whitening, drift-monitoring, or PCA-projecting: the dominant
    // eigenvector + variance-explained of the corpus covariance.
    // Everything is exact integer arithmetic so both engines agree
    // bit-for-bit: embeddings quantize to ⌊x·10⁴⌋, the scaled
    // covariance is S = n·Σqq − Σq·Σq (centered, ×n²) reduced by
    // sign-safe n² division (Spark `div`/Java `/` truncate toward
    // zero; DuckDB `//` floors — the abs-CASE form makes both
    // truncate), and 8 power-iteration rounds renormalize to ×10³ by
    // the max-|component| pivot (tie → lowest index; dividing BY the
    // signed pivot also fixes the eigenvector's sign). λ is the
    // integer Rayleigh quotient vᵀSv div vᵀv, variance-explained =
    // λ·10⁶ div trace.
    //
    // 100 TB posture: the corpus-scale work is ONE outer-product
    // explode (d² rows per vector, map-side partial agg collapses to
    // d² = 4096 keys before the shuffle — no self-join of the
    // exploded table); the d×d matrix is model-sized, so the 8
    // matvec rounds run on the driver exactly like the BPE merge
    // table, and the oracle replays them as unrolled SQL rounds — two
    // independent implementations of the same integer recursion.
    "q260_power_iteration_pca" -> QueryDef(
      build = (spark, dir) => {
        import spark.implicits._
        val d = 64
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), expr("transform(embedding, x -> " +
            "cast(floor(cast(x as double) * 10000) as long))").as("q"))
        val n = emb.count()
        val ex = emb.select(posexplode(col("q")).as(Seq("i", "qi")),
          col("q"))
        val sums = ex.groupBy(col("i")).agg(sum(col("qi")).as("s"))
        val pairs = ex
          .select(col("i"), col("qi"),
            posexplode(col("q")).as(Seq("j", "qj")))
          .groupBy(col("i"), col("j")).agg(sum(col("qi") * col("qj")).as("sqq"))
        val sn = pairs
          .join(broadcast(sums.select(col("i"), col("s").as("si"))), Seq("i"))
          .join(broadcast(sums.select(col("i").as("j"), col("s").as("sj"))),
            Seq("j"))
          .withColumn("raw", lit(n) * col("sqq") - col("si") * col("sj"))
          .select(col("i"), col("j"),
            expr(s"CASE WHEN raw >= 0 THEN raw div ${n * n}L" +
              s" ELSE -((-raw) div ${n * n}L) END").as("s"))
        val m = Array.ofDim[Long](d, d)
        sn.collect().foreach(r =>
          m(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Long]("s"))
        def matvec(v: Array[Long]): Array[Long] =
          Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
        var v = Array.fill(d)(1000L)
        for (_ <- 1 to 8) {
          val u = matvec(v)
          val pivot = (0 until d).maxBy(i => (math.abs(u(i)), -i))
          v = u.map(x => x * 1000L / u(pivot)) // Java /: trunc-to-zero
        }
        val u9 = matvec(v)
        val lam = (0 until d).map(i => v(i) * u9(i)).sum /
          v.map(x => x * x).sum
        val trace = (0 until d).map(i => m(i)(i)).sum
        val evr = lam * 1000000L / trace
        (0 until d).map(i => (i.toLong, v(i), lam, trace, evr))
          .toDF("i", "component", "lambda_scaled", "trace_scaled", "evr_ppm")
          .orderBy(col("i"))
      },
      oracle = Some(powerOracle)),

    // ---- q279: matryoshka prefix-truncation recall audit ----
    // The MRL question (Kusupati et al.): if the index stores only the
    // FIRST 16 of 64 dimensions (4× memory/bandwidth cut — the move
    // matryoshka-trained embedding stacks ship), how much of the exact
    // top-10 neighborhood survives? Exact integer audit: per sampled
    // query (vec_id % 37), top-10 by full-64-d quantized L2² vs top-10
    // by the 16-d prefix, overlap@10 rolled up per label. Completes
    // the compression wing of the similarity ladder (JL random
    // projection q241, int8 quantization q98, PQ q247 — now prefix
    // truncation, the one that needs NO trained codebook). Unlike
    // q241's distance-ratio histogram this measures the RANKING
    // consequence, which is what retrieval actually pays.
    //
    // 100 TB posture: the query side is a bounded deterministic sample
    // broadcast against the corpus (the q50 shape — one map-side pass,
    // no corpus self-join); ranking windows partition by query id.
    "q279_matryoshka_audit" -> QueryDef(
      build = (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label"),
            expr("transform(embedding, x -> " +
              "cast(floor(cast(x as double) * 10000) as long))").as("q"))
        val qs = emb.filter(col("vec_id") % 37 === 0)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("q").as("qv"))
        val pairs = emb.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qlabel"), col("vec_id"),
            expr("aggregate(zip_with(qv, q, (x, y) -> (x - y) * (x - y))" +
              ", 0L, (a, v) -> a + v)").as("d_full"),
            expr("aggregate(zip_with(slice(qv, 1, 16), slice(q, 1, 16), " +
              "(x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v)")
              .as("d_pre"))
        val wF = Window.partitionBy(col("qid"))
          .orderBy(col("d_full"), col("vec_id"))
        val wP = Window.partitionBy(col("qid"))
          .orderBy(col("d_pre"), col("vec_id"))
        val ov = pairs.withColumn("rf", row_number().over(wF))
          .withColumn("rp", row_number().over(wP))
          .groupBy(col("qid"), col("qlabel"))
          .agg(sum(when(col("rf") <= 10 && col("rp") <= 10, 1L)
            .otherwise(0L)).as("overlap"))
        ov.groupBy(col("qlabel").as("label"))
          .agg(count(lit(1)).as("n_queries"),
            expr("sum(overlap) * 100000 div count(1)")
              .as("mean_overlap_ppm"),
            min(col("overlap")).as("min_overlap"),
            max(col("overlap")).as("max_overlap"))
          .orderBy(col("label"))
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, label,
                          list_transform(embedding, x ->
                            CAST(floor(CAST(x AS DOUBLE) * 10000)
                              AS BIGINT)) AS q
                   FROM embeddings),
        qs AS (SELECT vec_id AS qid, label AS qlabel, q AS qv
               FROM e WHERE vec_id % 37 = 0),
        p AS (SELECT qs.qid, qs.qlabel, e.vec_id,
                     CAST(list_sum(list_transform(list_zip(qs.qv, e.q),
                       t -> (t[1] - t[2]) * (t[1] - t[2]))) AS BIGINT)
                       AS d_full,
                     CAST(list_sum(list_transform(
                       list_zip(qs.qv[1:16], e.q[1:16]),
                       t -> (t[1] - t[2]) * (t[1] - t[2]))) AS BIGINT)
                       AS d_pre
              FROM e CROSS JOIN qs WHERE e.vec_id <> qs.qid),
        r AS (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY d_full, vec_id) AS rf,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY d_pre, vec_id) AS rp
              FROM p),
        ov AS (SELECT qid, qlabel,
                      CAST(SUM(CASE WHEN rf <= 10 AND rp <= 10
                        THEN 1 ELSE 0 END) AS BIGINT) AS overlap
               FROM r GROUP BY 1, 2)
        SELECT qlabel AS label, COUNT(*) AS n_queries,
               CAST(SUM(overlap) AS BIGINT) * 100000 // COUNT(*)
                 AS mean_overlap_ppm,
               MIN(overlap) AS min_overlap, MAX(overlap) AS max_overlap
        FROM ov GROUP BY 1 ORDER BY label""")),

    // ---- q297: embedding anisotropy (cone) certificate ----
    // The representation pathology every embedding-search deployment
    // should measure before trusting cosine (Ethayarajh '19): learned
    // embeddings often collapse into a narrow CONE — every vector
    // positively aligned with the corpus mean — which compresses cosine
    // contrast exactly where retrieval needs it. The audit: per-vector
    // cosine alignment to the corpus mean vector, per-label rollup.
    // Exact arithmetic end to end: components floor-quantized to 1e6
    // (the q124 recipe), the mean vector is the per-dim exact floor-
    // mean, cos = dot·10⁶ div (isqrt(‖v‖²)·isqrt(‖m‖²)) with the q281
    // one-step-corrected integer sqrt — isotropic data reads ≈ 0,
    // a cone reads high positive; verdict at 0.5. The mean vector and
    // its norm ride the plan as collected literals (the PQ-codebook
    // precedent — d longs); the oracle RE-DERIVES both from raw
    // embeddings, so the literals are verified, not trusted.
    //
    // 100 TB posture: one d-key mean agg (map-side partials over n·d
    // rows → d groups) + one in-row alignment pass; the card is
    // |labels| rows; dot·10⁶ rides DECIMAL(38,0)/HUGEINT.
    "q297_embedding_isotropy" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            expr("transform(embedding, x -> CAST(floor(CAST(x AS" +
              " DOUBLE) * 1000000) AS BIGINT))").as("v"))
          .localCheckpoint(false)
        val m = e.select(posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("i"))
          .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
            .cast("long").as("c"))
          .orderBy(col("i")).collect().map(_.getLong(1))
        def isqrt(n: Long): Long = {
          val s0 = math.floor(math.sqrt(n.toDouble)).toLong
          if ((s0 + 1) * (s0 + 1) <= n) s0 + 1
          else if (s0 * s0 > n) s0 - 1 else s0
        }
        val im = isqrt(m.map(x => x * x).sum)
        val marr = array(m.toSeq.map(lit): _*)
        e.withColumn("dot", aggregate(
            zip_with(col("v"), marr, (a, b) => a * b), lit(0L), _ + _))
          .withColumn("nv2", aggregate(
            transform(col("v"), x => x * x), lit(0L), _ + _))
          .withColumn("s0",
            expr("CAST(floor(sqrt(CAST(nv2 AS DOUBLE))) AS BIGINT)"))
          .withColumn("iv", expr(
            "CASE WHEN (s0 + 1) * (s0 + 1) <= nv2 THEN s0 + 1 " +
              "WHEN s0 * s0 > nv2 THEN s0 - 1 ELSE s0 END"))
          // sign-safe cross-division (the q274 recipe): negative
          // numerators must not expose div-vs-// rounding direction
          .withColumn("align_ppm", expr(
            s"CASE WHEN dot >= 0 THEN CAST(CAST(dot AS DECIMAL(38,0))" +
              s" * 1000000 div (greatest(iv, 1L) * ${im}L) AS BIGINT)" +
              s" ELSE -CAST(CAST(-dot AS DECIMAL(38,0)) * 1000000" +
              s" div (greatest(iv, 1L) * ${im}L) AS BIGINT) END"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            expr("CASE WHEN sum(align_ppm) >= 0" +
              " THEN sum(align_ppm) div count(1)" +
              " ELSE -((-sum(align_ppm)) div count(1)) END")
              .as("mean_align_ppm"),
            min(col("align_ppm")).as("min_align_ppm"),
            max(col("align_ppm")).as("max_align_ppm"))
          .withColumn("verdict",
            when(col("mean_align_ppm") >= 500000L, "cone")
              .otherwise("spread"))
          .orderBy(col("label"))
      },
      oracle = Some("""
        WITH e AS MATERIALIZED (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
          FROM embeddings),
        dims AS (SELECT vec_id, CAST(t.d AS BIGINT) AS i,
                        v[CAST(t.d AS INT)] AS x
                 FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1))
                                  AS d) t),
        mc AS (SELECT i, CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*))
                 AS BIGINT) AS c
               FROM dims GROUP BY 1),
        mv AS (SELECT list(c ORDER BY i) AS mvec FROM mc),
        nm AS (SELECT CAST(list_sum(list_transform(mvec, x -> x * x))
                 AS BIGINT) AS nm2 FROM mv),
        im0 AS (SELECT nm2, CAST(floor(sqrt(CAST(nm2 AS DOUBLE)))
                  AS BIGINT) AS s0 FROM nm),
        imv AS (SELECT CASE WHEN (s0 + 1) * (s0 + 1) <= nm2 THEN s0 + 1
                            WHEN s0 * s0 > nm2 THEN s0 - 1
                            ELSE s0 END AS im FROM im0),
        al AS (SELECT e.vec_id, e.label,
                      CAST(list_sum(list_transform(list_zip(e.v, mv.mvec),
                        p -> p[1] * p[2])) AS BIGINT) AS dot,
                      CAST(list_sum(list_transform(e.v, x -> x * x))
                        AS BIGINT) AS nv2
               FROM e CROSS JOIN mv),
        iv0 AS (SELECT *, CAST(floor(sqrt(CAST(nv2 AS DOUBLE)))
                  AS BIGINT) AS s0 FROM al),
        ivv AS (SELECT vec_id, label, dot,
                       CASE WHEN (s0 + 1) * (s0 + 1) <= nv2 THEN s0 + 1
                            WHEN s0 * s0 > nv2 THEN s0 - 1
                            ELSE s0 END AS iv
                FROM iv0),
        ap AS (SELECT label,
                      CASE WHEN dot >= 0
                        THEN CAST(CAST(dot AS HUGEINT) * 1000000
                          // (GREATEST(iv, 1) * imv.im) AS BIGINT)
                        ELSE -CAST(CAST(-dot AS HUGEINT) * 1000000
                          // (GREATEST(iv, 1) * imv.im) AS BIGINT)
                      END AS align_ppm
               FROM ivv CROSS JOIN imv),
        card AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                        CAST(SUM(align_ppm) AS BIGINT) AS s
                 FROM ap GROUP BY 1),
        mm AS (SELECT label, MIN(align_ppm) AS min_align_ppm,
                      MAX(align_ppm) AS max_align_ppm
               FROM ap GROUP BY 1)
        SELECT c.label, c.n_vecs,
               CASE WHEN c.s >= 0 THEN c.s // c.n_vecs
                    ELSE -((-c.s) // c.n_vecs) END AS mean_align_ppm,
               mm.min_align_ppm, mm.max_align_ppm,
               CASE WHEN (CASE WHEN c.s >= 0 THEN c.s // c.n_vecs
                    ELSE -((-c.s) // c.n_vecs) END) >= 500000
                 THEN 'cone' ELSE 'spread' END AS verdict
        FROM card c JOIN mm USING (label) ORDER BY c.label""")),

    // ---- q314: threshold-algorithm (TA) early-termination certificate --
    // Fagin's Threshold Algorithm, the rank-AGGREGATION dual of the
    // fusion gates (q114 RRF merges ranks; TA proves how LITTLE of two
    // ranked lists you must read to answer a combined top-k EXACTLY):
    // reading both score-sorted lists to depth d, no unseen item can
    // beat τ_d = sa(d) + sb(d), so the exact top-k is certified at
    // d* = max(d_need, d_thresh) — d_need = the deepest rank at which a
    // true top-k member is first SEEN (min of its two ranks), d_thresh
    // = the first depth where τ drops STRICTLY below the k-th best
    // combined score (strict ⇒ an unseen tie can never displace the
    // tie-broken top-k set). The certificate publishes d*, the read
    // fraction, τ at d*, and the soundness bit τ(d*) < C_k — measured
    // at this SF the exact top-10 is certified after reading ~a tenth
    // of each list, which is the entire point of TA at 10⁹ postings.
    // Scores are exact integer quantized dots against the two
    // lowest-id query vectors (the q98/q266 kernel).
    //
    // 100 TB posture: scoring is one broadcast-query map pass (q50
    // shape); the rank windows are the stat-routed GlobalRank shape at
    // scale (naive global windows at these SFs); τ is a rank-keyed
    // equijoin of the two lists; everything after runs on k rows + two
    // 1-row stat broadcasts.
    "q314_threshold_algorithm" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 10
        val emb = Tables.embeddings(spark, dir).select(col("vec_id"),
          expr("transform(embedding, x -> " +
            "cast(floor(cast(x as double) * 10000) as long))").as("q"))
        val qv = emb.filter(col("vec_id") <= 1)
          .select(col("vec_id").as("qid"), col("q").as("qq"))
        val wide = emb.filter(col("vec_id") >= 2)
          .join(broadcast(qv))
          .select(col("vec_id"), col("qid"), expr(
            "aggregate(zip_with(q, qq, (x, y) -> x * y), 0L," +
              " (acc, v) -> acc + v)").as("s"))
          .groupBy(col("vec_id"))
          .agg(max(when(col("qid") === 0L, col("s"))).as("sa"),
            max(when(col("qid") === 1L, col("s"))).as("sb"))
          .withColumn("combined", col("sa") + col("sb"))
          .withColumn("ra", row_number().over(
            Window.orderBy(col("sa").desc, col("vec_id"))).cast("long"))
          .withColumn("rb", row_number().over(
            Window.orderBy(col("sb").desc, col("vec_id"))).cast("long"))
          .withColumn("d_seen", least(col("ra"), col("rb")))
          .localCheckpoint()
        val topk = wide
          .orderBy(col("combined").desc, col("vec_id")).limit(k)
        val ck = topk.agg(min(col("combined")).as("c_k"),
          max(col("d_seen")).as("d_need"))
        val tau = wide.select(col("ra").as("d"), col("sa"))
          .join(wide.select(col("rb").as("d"), col("sb")), "d")
          .select(col("d"), (col("sa") + col("sb")).as("tau"))
        val nst = wide.agg(count(lit(1)).as("n_docs"))
        val dth = tau.crossJoin(broadcast(ck)).crossJoin(broadcast(nst))
          .agg(coalesce(min(when(col("tau") < col("c_k"), col("d"))),
            max(col("n_docs"))).as("d_thresh"))
        val stats = ck.crossJoin(broadcast(dth))
          .crossJoin(broadcast(nst))
          .withColumn("d_star", greatest(col("d_need"), col("d_thresh")))
        val tstar = tau.join(broadcast(stats.select(col("d_star"))),
          col("d") === col("d_star"))
          .select(col("tau").as("tau_at_dstar"))
        topk.crossJoin(broadcast(stats)).crossJoin(broadcast(tstar))
          .select(col("vec_id"), col("sa"), col("sb"), col("combined"),
            col("ra"), col("rb"), col("d_seen"), col("c_k"),
            col("d_need"), col("d_thresh"), col("d_star"), col("n_docs"),
            expr("d_star * 1000000 div n_docs").as("read_fraction_ppm"),
            col("tau_at_dstar"),
            when(col("tau_at_dstar") < col("c_k") ||
              col("d_star") === col("n_docs"), 1L).otherwise(0L)
              .as("sound"))
          .orderBy(col("combined").desc, col("vec_id"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
          FROM embeddings),
        qv AS (SELECT vec_id AS qid, q AS qq FROM e WHERE vec_id <= 1),
        dots AS (
          SELECT e.vec_id, qv.qid,
                 CAST(list_sum(list_transform(range(1, len(e.q) + 1),
                   i -> e.q[i] * qv.qq[i])) AS BIGINT) AS s
          FROM e CROSS JOIN qv WHERE e.vec_id >= 2),
        wide0 AS (
          SELECT vec_id,
                 CAST(MAX(CASE WHEN qid = 0 THEN s END) AS BIGINT) AS sa,
                 CAST(MAX(CASE WHEN qid = 1 THEN s END) AS BIGINT) AS sb
          FROM dots GROUP BY 1),
        wide AS (
          SELECT *, sa + sb AS combined,
                 CAST(ROW_NUMBER() OVER (ORDER BY sa DESC, vec_id)
                   AS BIGINT) AS ra,
                 CAST(ROW_NUMBER() OVER (ORDER BY sb DESC, vec_id)
                   AS BIGINT) AS rb
          FROM wide0),
        wide2 AS (SELECT *, LEAST(ra, rb) AS d_seen FROM wide),
        topk AS (SELECT * FROM wide2
                 ORDER BY combined DESC, vec_id LIMIT 10),
        ck AS (SELECT MIN(combined) AS c_k, MAX(d_seen) AS d_need
               FROM topk),
        tau AS (SELECT a.d, a.sa + b.sb AS tau
                FROM (SELECT ra AS d, sa FROM wide2) a
                JOIN (SELECT rb AS d, sb FROM wide2) b USING (d)),
        nst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM wide2),
        dth AS (SELECT COALESCE(MIN(CASE WHEN tau.tau < ck.c_k
                  THEN tau.d END), MAX(nst.n_docs)) AS d_thresh
                FROM tau CROSS JOIN ck CROSS JOIN nst),
        st AS (SELECT ck.c_k, ck.d_need, dth.d_thresh, nst.n_docs,
                      GREATEST(ck.d_need, dth.d_thresh) AS d_star
               FROM ck CROSS JOIN dth CROSS JOIN nst),
        ts AS (SELECT tau.tau AS tau_at_dstar
               FROM tau JOIN st ON tau.d = st.d_star)
        SELECT t.vec_id, t.sa, t.sb, t.combined, t.ra, t.rb, t.d_seen,
               st.c_k, st.d_need, st.d_thresh, st.d_star, st.n_docs,
               st.d_star * 1000000 // st.n_docs AS read_fraction_ppm,
               ts.tau_at_dstar,
               CAST(CASE WHEN ts.tau_at_dstar < st.c_k
                 OR st.d_star = st.n_docs THEN 1 ELSE 0 END AS BIGINT)
                 AS sound
        FROM topk t CROSS JOIN st CROSS JOIN ts
        ORDER BY t.combined DESC, t.vec_id""")),

    // ---- q351: near-dup at the PRODUCTION threshold (round 13) ----
    // VERDICT r12 #3 closed by measurement + this gate. The round-12
    // rehearsal flagged q55's ×31 shuffle at 10× data as "fixed bucket
    // bits" — round-13 diagnosis: the bits already grow log N in the
    // gate (autoLshBits from the corpus count, 7 → 10 across the
    // rehearsal pair), the candidate stage is map-side (total shuffle
    // 11 KB at sf0.1), and the ×31 is OUTPUT growth: q55's 0.38
    // threshold sits at 3.04σ of the noise-vector cosine background
    // (σ = 1/√64 = 0.125), so tail pairs over threshold grow ∝ N² BY
    // MATH — 850 → 27.7k verified pairs, shuffle ∝ output, per-pair
    // bytes flat. No bits policy fixes distribution-tail physics; the
    // production operating point does: at the ≥ 0.80 near-dup zone
    // (6.4σ) the background VANISHES and output is exactly the planted
    // near-dups, ∝ N. This gate pins that operating point: the q55
    // pipeline (16 tables, autoLshBits — the derived bits value is
    // REPLAYED by the oracle from the staged corpus count via the same
    // ceil(log2(n/30)) law) over [[plantedNearDupCorpus]], certifying
    // planted recall = 10⁶ ppm and background = 0. The sf1 rehearsal
    // row for q351 is the ~linear acceptance test.
    //
    // 100 TB posture: bucket equijoin candidates (no all-pairs), bits
    // ∝ log N holds occupancy flat, shuffle carries only verified
    // pairs — which at the production threshold are ∝ corpus dups.
    "q351_neardup_production" -> QueryDef(
      build = (spark, dir) => {
        val corpus = plantedNearDupCorpus(spark, dir)
        val (cand, bits) = scaledBucketRows(corpus, norm(col("e")).as("nrm"))
        val a = cand.select(col("bucket"), col("vec_id").as("id_a"),
          col("e").as("ea"), col("nrm").as("na"))
        val b = cand.select(col("bucket"), col("vec_id").as("id_b"),
          col("e").as("eb"), col("nrm").as("nb"))
        val pairs = a.join(b, Seq("bucket"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
          .filter(col("cos") >= 0.80)
          .dropDuplicates("id_a", "id_b")
          .localCheckpoint(false)
        val cnts = corpus.agg(
          sum(when(col("vec_id") < PlantOff, 1L).otherwise(0L))
            .as("n_base"),
          sum(when(col("vec_id") >= PlantOff, 1L).otherwise(0L))
            .as("n_planted"))
        val pc = pairs.agg(count(lit(1)).as("pairs_total"),
          coalesce(sum(when(col("id_b") === col("id_a") + PlantOff, 1L)
            .otherwise(0L)), lit(0L)).as("planted_recalled"))
        cnts.crossJoin(broadcast(pc))
          .select(col("n_base"), col("n_planted"),
            lit(bits.toLong).as("lsh_bits"),
            col("pairs_total"), col("planted_recalled"),
            expr("planted_recalled * 1000000 div n_planted")
              .as("recall_ppm"),
            (col("pairs_total") - col("planted_recalled"))
              .as("background_pairs"))
      },
      // Oracle over the STAGED planted corpus (`_q351_emb` exploded to
      // driver-sortable scalars) + staged bucket assignments
      // (`_q351_input`, the q55 pattern): candidate generation, exact
      // cosine verify, the planted/background split, AND the derived
      // bits value (re-computed from the staged corpus count with the
      // same clamp(ceil(log2(n/30))) law) are all replayed in DuckDB.
      oracle = Some(s"""
        ${plantedInputCtes("a.vec_id < bb.vec_id")},
        pairs AS (SELECT c.id_a, c.id_b
                  FROM cand c
                  JOIN eb ea ON ea.vec_id = c.id_a
                  JOIN eb e2 ON e2.vec_id = c.id_b
                  WHERE list_cosine_similarity(ea.emb, e2.emb) >= 0.80),
        $PlantedCountCtes,
        pc AS (SELECT CAST(COUNT(*) AS BIGINT) AS pairs_total,
                      CAST(COALESCE(SUM(CASE WHEN id_b = id_a + $PlantOff
                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                        AS planted_recalled
               FROM pairs)
        SELECT cnts.n_base, cnts.n_planted, bits.lsh_bits,
               pc.pairs_total, pc.planted_recalled,
               pc.planted_recalled * 1000000 // cnts.n_planted
                 AS recall_ppm,
               pc.pairs_total - pc.planted_recalled AS background_pairs
        FROM cnts CROSS JOIN bits CROSS JOIN pc"""),
      headline = true),

    // ---- q357: int8 embedding-quantization recall certificate ----
    // (round 14) The storage operation every 100 TB embedding corpus
    // performs — scalar int8 quantization (per-dim corpus min/max, 255
    // bins) cuts the float32 column 4× — gated on the property a
    // retrieval stack cares about: how much of the EXACT float top-k
    // does integer-dot ranking over the quantized codes preserve?
    // Oracle-replayable END TO END: the QUANTIZATION is exact and
    // engine-identical (float32→double widening is exact, both engines
    // compute the same doubles and the same FLOOR, so the
    // reconstruction arrays are bit-equal), and the RANKING is cosine
    // over those dequantized doubles — NOT integer arithmetic (the
    // codes enter scaled by per-dim float (hi−lo)/255 steps; a raw
    // offset-code integer ranking destroys cosine geometry — measured
    // recall 0 on this gate's first draft). Cross-engine rank agreement
    // therefore rests on Spark's dot/(sqrt·sqrt) kernel and DuckDB's
    // list_cosine_similarity computing the same double to the last
    // ulp-that-matters at the rank-5/rank-6 boundary (round-14 ADVICE);
    // Round15PropertySpec pins the MEASURED boundary margin (min over
    // queries of cos@5 − cos@6 in the quantized ranking) orders of
    // magnitude above double rounding at both test SFs, so a flip
    // would need a corpus with a genuine near-tie, not noise. Ranks
    // tie-break on vec_id; the float side is q50's kernel. Output:
    // per-query overlap@5 plus the corpus recall rollup.
    //
    // 100 TB posture: the min/max census is one posexplode agg
    // (64-row broadcast result); quantization is in-row. The ranking
    // below is a brute-force CERTIFICATE DUAL (q52/q325's convention —
    // do NOT copy at corpus scale): the corpus side joins against the
    // every-97th-vector query sample, so work grows N²/97 with corpus
    // size. It exists to certify the quantizer's recall exactly; the
    // production read path feeds the codes to q51/q54's bucketed
    // candidates (sub-quadratic by construction).
    "q357_int8_quant_recall" -> QueryDef(
      build = (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), vec64(col("embedding")).as("e"))
          .localCheckpoint(false)
        val quant = int8Dequant(emb)
        val qsInt = quant.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id").as("qid"), col("r").as("rq"))
        val wI = Window.partitionBy(col("qid"))
          .orderBy(col("qcos").desc, col("vec_id"))
        val topInt = quant.join(broadcast(qsInt), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            cosine(col("rq"), col("r")).as("qcos"))
          .withColumn("rn", row_number().over(wI))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("vec_id"))
        val qsF = emb.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id").as("qid"), col("e").as("qe"))
        val wF = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))
        val topF = emb.join(broadcast(qsF), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            cosine(col("qe"), col("e")).as("cos"))
          .withColumn("rn", row_number().over(wF))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("vec_id"))
        val ov = topInt.join(topF, Seq("qid", "vec_id"))
          .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
        val perQ = qsInt.select(col("qid"))
          .join(ov, Seq("qid"), "left")
          .na.fill(0L, Seq("n_overlap"))
          .localCheckpoint(false)
        val roll = perQ.agg(count(lit(1)).as("n_queries"),
          sum(col("n_overlap")).as("sum_overlap"),
          min(col("n_overlap")).as("min_overlap"))
        perQ.crossJoin(broadcast(roll))
          .select(col("qid"), col("n_overlap"), col("n_queries"),
            col("sum_overlap"), col("min_overlap"),
            expr("sum_overlap * 1000000 div (5 * n_queries)")
              .as("recall_ppm"))
          .orderBy(col("qid"))
      },
      oracle = Some("""
        WITH e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        dm AS (SELECT i, MIN(v) AS lo, MAX(v) AS hi
               FROM (SELECT unnest(e) AS v,
                            generate_subscripts(e, 1) AS i FROM e)
               GROUP BY 1),
        mm AS (SELECT list(lo ORDER BY i) AS lo_arr,
                      list(hi ORDER BY i) AS hi_arr FROM dm),
        qt AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(range(1, len(e) + 1), i -> CASE
                   WHEN hi_arr[i] = lo_arr[i] THEN lo_arr[i]
                   ELSE lo_arr[i] + CAST(LEAST(CAST(255 AS DOUBLE),
                     GREATEST(CAST(0 AS DOUBLE),
                     FLOOR((e[i] - lo_arr[i]) * 255
                       / (hi_arr[i] - lo_arr[i])))) AS BIGINT)
                     * (hi_arr[i] - lo_arr[i]) / 255 END) AS r
          FROM e CROSS JOIN mm),
        qi AS (SELECT vec_id AS qid, r AS rq FROM qt
               WHERE vec_id % 97 = 0),
        ri AS (SELECT qid, vec_id FROM (
                 SELECT qi.qid, qt.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY qi.qid
                          ORDER BY list_cosine_similarity(qt.r, qi.rq)
                            DESC, qt.vec_id) AS rn
                 FROM qt JOIN qi ON qt.vec_id != qi.qid)
               WHERE rn <= 5),
        qf AS (SELECT vec_id AS qid, e AS qe FROM e
               WHERE vec_id % 97 = 0),
        rf AS (SELECT qid, vec_id FROM (
                 SELECT qf.qid, e.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY qf.qid
                          ORDER BY list_cosine_similarity(e.e, qf.qe)
                            DESC, e.vec_id) AS rn
                 FROM e JOIN qf ON e.vec_id != qf.qid)
               WHERE rn <= 5),
        ov AS (SELECT ri.qid, CAST(COUNT(*) AS BIGINT) AS n_overlap
               FROM ri JOIN rf USING (qid, vec_id) GROUP BY 1),
        pq AS (SELECT qi.qid, COALESCE(ov.n_overlap, 0) AS n_overlap
               FROM qi LEFT JOIN ov ON ov.qid = qi.qid),
        roll AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                        CAST(SUM(n_overlap) AS BIGINT) AS sum_overlap,
                        CAST(MIN(n_overlap) AS BIGINT) AS min_overlap
                 FROM pq)
        SELECT pq.qid, CAST(pq.n_overlap AS BIGINT) AS n_overlap,
               roll.n_queries, roll.sum_overlap, roll.min_overlap,
               roll.sum_overlap * 1000000 // (5 * roll.n_queries)
                 AS recall_ppm
        FROM pq CROSS JOIN roll
        ORDER BY pq.qid""")),

    // ---- q362: margin-based bitext mining (ratio margin, mutual argmax) ----
    // (round 15) The parallel-pair miner every multilingual corpus build
    // runs (Artetxe & Schwenk '19 / CCMatrix): given two corpora embedded
    // in a shared space, score cross-corpus pairs by the RATIO MARGIN —
    // cos(x,y) normalized by the mean cosine of each side's k nearest
    // neighbors — and mine pairs that are each other's argmax above a
    // margin threshold. Raw cosine cannot do this job: hub vectors sit
    // close to everything, so an absolute threshold either floods (hubs)
    // or starves (sparse regions); the margin divides that local density
    // out, which is exactly why the paper's mining recall beats cosine
    // at equal precision.
    //
    // Corpus: q351's planted corpus as the two "languages" — base
    // vectors (< PlantOff) are the source side, the jittered every-25th
    // copies (>= PlantOff) the target side, so every target has exactly
    // one true translation and the card can certify mined precision and
    // recall exactly (true pair <=> id_b = id_a + PlantOff).
    //
    // Scale adaptation (the part a 100 TB run copies): kNN lists come
    // from the SAME bucketed-LSH candidate generation as q51/q351 (at
    // corpus scale the neighbor lists ARE the ANN retrieval output —
    // FAISS-then-margin is how the pipeline actually runs), with
    // per-node k_eff = min(k, |candidates|) so sparse candidate lists
    // keep exact semantics instead of dropping out. Determinism: the
    // per-pair cosine comes from the one kernel proven bit-identical to
    // DuckDB's (q52), is floored once to integer 1e-9 units, and EVERY
    // margin after that is exact BIGINT arithmetic (margin_ppm =
    // c·(ka+kb)·10⁶ div (Σa+Σb), positive operands so Spark `div` ≡
    // DuckDB `//`); ranks tie-break on the partner id.
    //
    // 100 TB posture: bucket equijoin (never all-pairs) → per-id rank
    // windows over candidate rows (bounded by bucket occupancy) → two
    // keyed sum joins → 1-row card. No stage touches N² and the
    // embedding arrays never shuffle past the candidate join.
    "q362_margin_bitext" -> QueryDef(
      build = (spark, dir) => {
        val k = 4
        val corpus = plantedNearDupCorpus(spark, dir)
        val (cand, bits) = scaledBucketRows(corpus, norm(col("e")).as("nrm"))
        val a = cand.filter(col("vec_id") < PlantOff)
          .select(col("bucket"), col("vec_id").as("id_a"),
            col("e").as("ea"), col("nrm").as("na"))
        val b = cand.filter(col("vec_id") >= PlantOff)
          .select(col("bucket"), col("vec_id").as("id_b"),
            col("e").as("eb"), col("nrm").as("nb"))
        val pairs = a.join(b, Seq("bucket"))
          .select(col("id_a"), col("id_b"),
            floor((dot(col("ea"), col("eb")) / (col("na") * col("nb")))
              * lit(1000000000L)).as("c"))
          .filter(col("c") > 0L)
          .dropDuplicates("id_a", "id_b")
          .localCheckpoint(false)
        val scored = ratioMarginScore(pairs, k)
        val mined = mineMutualArgmax(scored, 1200000L)
          .select(col("id_a"), col("id_b"), col("margin_ppm"),
            (col("id_b") === col("id_a") + PlantOff).as("is_true"))
          .localCheckpoint(false)
        val cnts = corpus.agg(
          sum(when(col("vec_id") < PlantOff, 1L).otherwise(0L))
            .as("n_base"),
          sum(when(col("vec_id") >= PlantOff, 1L).otherwise(0L))
            .as("n_planted"))
        val pc = pairs.agg(count(lit(1)).as("n_candidates"))
        val mc = mined.agg(
          count(lit(1)).as("n_mined"),
          coalesce(sum(when(col("is_true"), 1L).otherwise(0L)), lit(0L))
            .as("n_true"),
          coalesce(min(when(col("is_true"), col("margin_ppm"))), lit(0L))
            .as("min_true_margin_ppm"),
          coalesce(max(when(!col("is_true"), col("margin_ppm"))), lit(0L))
            .as("max_false_margin_ppm"))
        cnts.crossJoin(broadcast(pc)).crossJoin(broadcast(mc))
          .select(col("n_base"), col("n_planted"),
            lit(bits.toLong).as("lsh_bits"), col("n_candidates"),
            col("n_mined"), col("n_true"),
            (col("n_mined") - col("n_true")).as("n_false"),
            expr("n_true * 1000000 div n_planted").as("recall_ppm"),
            col("min_true_margin_ppm"), col("max_false_margin_ppm"))
      },
      // Oracle over the SAME staged planted corpus as q351 (`_q351_emb`
      // scalars + `_q351_input` buckets): candidate generation, the
      // floored integer cosine, both kNN sums, the exact BIGINT margin,
      // the mutual-argmax mining rule, and the precision/recall card are
      // all replayed in DuckDB.
      oracle = Some(s"""
        ${plantedInputCtes(s"a.vec_id < $PlantOff AND bb.vec_id >= $PlantOff")},
        pairs AS MATERIALIZED (
          SELECT id_a, id_b, c FROM (
            SELECT c.id_a, c.id_b,
                   CAST(FLOOR(list_cosine_similarity(ea.emb, e2.emb)
                     * 1000000000) AS BIGINT) AS c
            FROM cand c
            JOIN eb ea ON ea.vec_id = c.id_a
            JOIN eb e2 ON e2.vec_id = c.id_b)
          WHERE c > 0),
        sa AS (SELECT id_a, CAST(COUNT(*) AS BIGINT) AS ka,
                      CAST(SUM(c) AS BIGINT) AS suma
               FROM (SELECT id_a, c, ROW_NUMBER() OVER (PARTITION BY id_a
                       ORDER BY c DESC, id_b) AS r FROM pairs)
               WHERE r <= 4 GROUP BY 1),
        sb AS (SELECT id_b, CAST(COUNT(*) AS BIGINT) AS kb,
                      CAST(SUM(c) AS BIGINT) AS sumb
               FROM (SELECT id_b, c, ROW_NUMBER() OVER (PARTITION BY id_b
                       ORDER BY c DESC, id_a) AS r FROM pairs)
               WHERE r <= 4 GROUP BY 1),
        sc AS MATERIALIZED (
          SELECT p.id_a, p.id_b,
                 p.c * (sa.ka + sb.kb) * 1000000 // (sa.suma + sb.sumb)
                   AS margin_ppm
          FROM pairs p
          JOIN sa ON sa.id_a = p.id_a
          JOIN sb ON sb.id_b = p.id_b),
        mm AS (SELECT id_a, id_b, margin_ppm,
                      ROW_NUMBER() OVER (PARTITION BY id_a
                        ORDER BY margin_ppm DESC, id_b) AS rx,
                      ROW_NUMBER() OVER (PARTITION BY id_b
                        ORDER BY margin_ppm DESC, id_a) AS ry
               FROM sc),
        mined AS (SELECT id_a, id_b, margin_ppm,
                         (id_b = id_a + $PlantOff) AS is_true
                  FROM mm
                  WHERE rx = 1 AND ry = 1 AND margin_ppm >= 1200000),
        $PlantedCountCtes,
        pc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM pairs),
        mc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mined,
                      CAST(COALESCE(SUM(CASE WHEN is_true
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true,
                      CAST(COALESCE(MIN(CASE WHEN is_true
                        THEN margin_ppm END), 0) AS BIGINT)
                        AS min_true_margin_ppm,
                      CAST(COALESCE(MAX(CASE WHEN NOT is_true
                        THEN margin_ppm END), 0) AS BIGINT)
                        AS max_false_margin_ppm
               FROM mined)
        SELECT cnts.n_base, cnts.n_planted, bits.lsh_bits,
               pc.n_candidates, mc.n_mined, mc.n_true,
               mc.n_mined - mc.n_true AS n_false,
               mc.n_true * 1000000 // cnts.n_planted AS recall_ppm,
               mc.min_true_margin_ppm, mc.max_false_margin_ppm
        FROM cnts CROSS JOIN bits CROSS JOIN pc CROSS JOIN mc"""))
  )

  /** DuckDB replay of q260: the same integer power iteration, unrolled
    * — matvec as a join+agg per round, pivot by (|u| DESC, i), the
    * abs-CASE division making DuckDB's floor-div truncate toward zero
    * like Spark's `div`. */
  /** u/v iteration CTEs are MATERIALIZED (round 15, VERDICT r14 #8):
    * each level references the previous one twice (u and p), so the
    * non-materialized chain inlined the base joins ~2^8 times — 34 s of
    * compare wall for one oracle. Strategy-only; values unchanged. */
  private def powerOracle: String = {
    val rounds = (1 to 8).map { k =>
      s"""u$k AS MATERIALIZED (SELECT m.i, CAST(SUM(m.s * v.v) AS BIGINT) AS u
             FROM m JOIN v${k - 1} v ON v.i = m.j GROUP BY 1),
        p$k AS (SELECT u FROM u$k ORDER BY abs(u) DESC, i LIMIT 1),
        v$k AS MATERIALIZED (SELECT u$k.i,
                       CASE WHEN (u$k.u >= 0) = (p$k.u >= 0)
                            THEN abs(u$k.u) * 1000 // abs(p$k.u)
                            ELSE -(abs(u$k.u) * 1000 // abs(p$k.u)) END AS v
                FROM u$k, p$k)"""
    }.mkString(",\n        ")
    s"""
        WITH e AS (SELECT vec_id, list_transform(embedding, x ->
                     CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
                   FROM embeddings),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
        ex AS (SELECT vec_id, t.i - 1 AS i, t.qi
               FROM e, LATERAL (SELECT unnest(q) AS qi,
                                       generate_subscripts(q, 1) AS i) t),
        si AS (SELECT i, CAST(SUM(qi) AS BIGINT) AS s FROM ex GROUP BY 1),
        pq AS (SELECT a.i AS i, b.i AS j,
                      CAST(SUM(a.qi * b.qi) AS BIGINT) AS sqq
               FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        m AS MATERIALIZED (
          SELECT pq.i, pq.j,
                 CASE WHEN (nn.n * pq.sqq - s1.s * s2.s) >= 0
                      THEN (nn.n * pq.sqq - s1.s * s2.s) // (nn.n * nn.n)
                      ELSE -((s1.s * s2.s - nn.n * pq.sqq) // (nn.n * nn.n))
                 END AS s
          FROM pq JOIN si s1 ON s1.i = pq.i JOIN si s2 ON s2.i = pq.j
          CROSS JOIN nn),
        v0 AS (SELECT i, CAST(1000 AS BIGINT) AS v FROM si),
        $rounds,
        u9 AS (SELECT m.i, CAST(SUM(m.s * v.v) AS BIGINT) AS u
               FROM m JOIN v8 v ON v.i = m.j GROUP BY 1),
        ray AS (SELECT CAST(SUM(v8.v * u9.u) AS BIGINT) AS num,
                       (SELECT CAST(SUM(v * v) AS BIGINT) FROM v8) AS den
                FROM v8 JOIN u9 ON u9.i = v8.i),
        tr AS (SELECT CAST(SUM(s) AS BIGINT) AS trace FROM m WHERE i = j),
        lam AS (SELECT num // den AS l FROM ray)
        SELECT v8.i, v8.v AS component, lam.l AS lambda_scaled,
               tr.trace AS trace_scaled,
               lam.l * 1000000 // tr.trace AS evr_ppm
        FROM v8 CROSS JOIN lam CROSS JOIN tr ORDER BY v8.i"""
  }

  /** DuckDB replay of the q120 farthest-point traversal: one (center,
    * min-dist-update) CTE pair per pick, mirroring the incremental
    * least() update the Spark side does. */
  private def kcenterOracle: String = {
    val steps = (2 to 5).map { k =>
      s"""c$k AS (SELECT vec_id, v, d FROM d${k - 1}
              ORDER BY d DESC, vec_id LIMIT 1),
      d$k AS (SELECT s.vec_id, s.v,
                     LEAST(s.d, ROUND(1.0 - list_cosine_similarity(s.v, c$k.v),
                                      9)) AS d
              FROM d${k - 1} s, c$k)"""
    }.mkString(",\n      ")
    val unions = (2 to 5)
      .map(k => s"SELECT CAST($k AS BIGINT) AS sel_rank, vec_id, d AS dist FROM c$k")
      .mkString(" UNION ALL ")
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
      d1 AS (SELECT e.vec_id, e.v,
                    ROUND(1.0 - list_cosine_similarity(e.v, c1.v), 9) AS d
             FROM e, c1),
      $steps
      SELECT sel_rank, vec_id, dist FROM (
        SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,
               CAST(NULL AS DOUBLE) AS dist FROM c1
        UNION ALL $unions) picks
      ORDER BY sel_rank"""
  }
}
