package graft.queries

import graft.core.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingest and tokenization — all declarative single-plan
  * DataFrame code (no UDFs), all oracle-backed.
  *
  * Scale notes (100 TB posture): q62/q63/q66 are one window + one
  * hash-partition exchange each, keyed on low-cardinality strata (lang /
  * source) — at real scale the same plans hold with AQE handling stratum
  * skew; q64 is embarrassingly parallel per-row regex (codegen'd); q65's
  * explode multiplies rows ~|tokens|/stride-fold but never shuffles —
  * chunking stays map-side, which is exactly what you want feeding a
  * tokenizer.
  */
object Curation {

  /** Deterministic, engine-portable pick key: md5 over (doc_id || text).
    * Both Spark and DuckDB emit the same 32-char lowercase hex, so ordered
    * selections ("pick k per stratum") are oracle-checkable — unlike
    * xxhash64, which is engine-specific. */
  private[queries] def pickKey = md5(concat(col("doc_id").cast("string"), col("text")).cast("binary"))

  private[queries] val SqlPickKey = "md5(CONCAT(CAST(doc_id AS VARCHAR), text))"

  /** q107's classifier+rollup, factored so the spec can plant versions
    * covering all four change classes. Inputs: per-entity snapshots with
    * columns (o_custkey, n_orders, spend:decimal). */
  def snapshotDiff(snap1: org.apache.spark.sql.DataFrame,
      snap2: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v1 = snap1
      .select(col("o_custkey"), col("n_orders").as("n1"), col("spend").as("s1"))
    val v2 = snap2
      .select(col("o_custkey"), col("n_orders").as("n2"), col("spend").as("s2"))
    v1.join(v2, Seq("o_custkey"), "full_outer")
      .select(
        when(col("n1").isNull, lit("added"))
          .when(col("n2").isNull, lit("removed"))
          .when(col("n1") === col("n2") && col("s1") === col("s2"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("change_type"),
        coalesce(col("n2"), lit(0L)).minus(coalesce(col("n1"), lit(0L)))
          .as("d_orders"),
        coalesce(col("s2"), lit(0).cast(DecimalType(28, 2)))
          .minus(coalesce(col("s1"), lit(0).cast(DecimalType(28, 2))))
          .as("d_spend"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("d_orders")).as("orders_delta"),
        sum(col("d_spend")).cast("double").as("spend_delta"))
      .orderBy(col("change_type"))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q62: per-language quality-percentile filter ----
    // Keep documents at or above their language's 25th percentile of
    // type-token ratio — the "drop the worst quartile per language" cut.
    // percent_rank is (rank-1)/(n-1), exact in double, and the (ttr,
    // doc_id) ordering is tie-free, so both engines agree bit-for-bit.
    "q62_quality_percentile" -> QueryDef(
      build = (spark, dir) => {
        val toks = split(trim(col("text")), " ")
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            round(size(array_distinct(toks)).cast("double") / size(toks), 6).as("ttr"))
        val w = Window.partitionBy(col("lang")).orderBy(col("ttr"), col("doc_id"))
        d.withColumn("pr", percent_rank().over(w))
          .filter(col("pr") >= 0.25)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            min(col("ttr")).as("min_ttr"),
            max(col("ttr")).as("max_ttr"),
            sum(col("n_chars")).as("chars_kept"))
          .orderBy(col("lang"))
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, lang, n_chars,
                 ROUND(CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE)
                       / len(string_split(trim(text), ' ')), 6) AS ttr
          FROM documents),
        r AS (SELECT *, PERCENT_RANK() OVER (PARTITION BY lang ORDER BY ttr, doc_id) AS pr
              FROM d)
        SELECT lang, COUNT(*) AS n_kept,
               MIN(ttr) AS min_ttr, MAX(ttr) AS max_ttr,
               CAST(SUM(n_chars) AS BIGINT) AS chars_kept
        FROM r WHERE pr >= 0.25
        GROUP BY lang ORDER BY lang""")),

    // ---- q63: deterministic exact-k pick per stratum ----
    // "Exactly 10 documents per language, reproducibly, engine-portably":
    // rank by the md5 pick key and keep the first k — the fixed-size
    // cousin of q57's fixed-rate sample.
    "q63_stratum_exact_k" -> QueryDef(
      build = (spark, dir) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("pick_key"), col("doc_id"))
        Tables.documents(spark, dir)
          .select(col("lang"), col("doc_id"), pickKey.as("pick_key"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 10)
          .select(col("lang"), col("rn"), col("doc_id"), col("pick_key"))
          .orderBy(col("lang"), col("rn"))
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT lang, doc_id, $SqlPickKey AS pick_key,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY $SqlPickKey, doc_id) AS rn
          FROM documents)
        SELECT lang, rn, doc_id, pick_key
        FROM r WHERE rn <= 10 ORDER BY lang, rn""")),

    // ---- q64: PII-pattern scrub + entity masking ----
    // Per-row regex redaction: count email/phone-shaped spans (none exist
    // in this synthetic corpus — the counts prove the scan ran and found
    // zero) and mask a known-entity lexicon, reporting hit counts and the
    // post-mask length. Pure codegen'd per-row work, no shuffle at all
    // until the final presentation sort.
    "q64_pii_scrub" -> QueryDef(
      build = (spark, dir) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
        val entity = "\\b(customer|spark)\\b"
        val masked = regexp_replace(col("text"), entity, "[ENT]")
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            regexp_count(col("text"), lit(email)).cast("long").as("n_email"),
            regexp_count(col("text"), lit(phone)).cast("long").as("n_phone"),
            regexp_count(col("text"), lit(entity)).cast("long").as("n_masked"),
            length(masked).cast("long").as("masked_len"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
               len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
               len(regexp_extract_all(text, '\b(customer|spark)\b')) AS n_masked,
               length(regexp_replace(text, '\b(customer|spark)\b', '[ENT]', 'g')) AS masked_len
        FROM documents ORDER BY doc_id""")),

    // ---- q67: reproducible global shuffle ----
    // Training-example order randomization that is stable across engines,
    // partitioning, and replays: position = rank of the md5 pick key. The
    // window is over the whole corpus — at 100 TB you'd range-partition on
    // pick_key instead of a single ordering (same result, distributed
    // sort); the semantics (and oracle) are identical.
    "q67_global_shuffle" -> QueryDef(
      build = (spark, dir) => {
        val w = Window.orderBy(col("pick_key"), col("doc_id"))
        Tables.documents(spark, dir)
          .select(col("doc_id"), pickKey.as("pick_key"))
          .withColumn("shuffle_pos", row_number().over(w).cast("long"))
          .select(col("shuffle_pos"), col("doc_id"))
          .orderBy(col("shuffle_pos"))
          .limit(100)
      },
      oracle = Some(s"""
        SELECT ROW_NUMBER() OVER (ORDER BY $SqlPickKey, doc_id) AS shuffle_pos,
               doc_id
        FROM documents ORDER BY shuffle_pos LIMIT 100""")),

    // ---- q65: sliding-window document chunking ----
    // Tokenizer feed: 32-token windows at stride 16 (docs shorter than one
    // window yield one short chunk). explode(sequence(...)) keeps the whole
    // thing map-side — chunk rows are born in the partition that read the
    // document.
    "q65_doc_chunking" -> QueryDef(
      build = (spark, dir) => {
        val toks = split(trim(col("text")), " ")
        Tables.documents(spark, dir)
          .select(col("doc_id"), toks.as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), greatest(size(col("toks")) - 32, lit(0)), lit(16)))
              .as("chunk_start"))
          .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
            size(slice(col("toks"), col("chunk_start") + 1, lit(32))).cast("long").as("n_tok"),
            concat_ws(" ", slice(col("toks"), col("chunk_start") + 1, lit(32))).as("chunk"))
          .orderBy(col("doc_id"), col("chunk_start"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                     unnest(generate_series(0, greatest(len(toks)-32, 0), 16)) AS chunk_start
              FROM t)
        SELECT doc_id, chunk_start,
               len(list_slice(toks, chunk_start+1, chunk_start+32)) AS n_tok,
               array_to_string(list_slice(toks, chunk_start+1, chunk_start+32), ' ') AS chunk
        FROM s ORDER BY doc_id, chunk_start"""),
      headline = true),

    // ---- q69: vocabulary building (token frequency table) ----
    // The input to tokenizer/BPE training: global token counts and
    // document frequencies, top-50 by count. explode → partial-count
    // map-side → one exchange on token; at 100 TB the same plan holds
    // (token cardinality, not corpus size, drives the shuffle).
    "q69_vocab_top_tokens" -> QueryDef(
      build = (spark, dir) => {
        val toks = split(trim(col("text")), " ")
        Tables.documents(spark, dir)
          .select(col("doc_id"), explode(toks).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy(col("n").desc, col("token"))
          .limit(50)
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
                   FROM documents)
        SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM t GROUP BY token
        ORDER BY n DESC, token LIMIT 50""")),

    // ---- q71: benchmark decontamination (n-gram overlap) ----
    // The pre-training hygiene check: which training documents share long
    // n-grams with the held-out eval set. Same inverted-index shape as the
    // exact shingle join (q44) but across two corpus slices, joined on
    // 64-bit gram hashes (8-byte shuffle rows; the corpus's docs are
    // ~60-70 tokens over a ~40-word vocabulary, so 5-grams play the role
    // 13-grams do on real text — 40^5 ≈ 1e8 possible grams, a shared one
    // indicates copying).
    // At 100 TB the eval side is small — Spark broadcasts it and the
    // training corpus never shuffles.
    "q71_decontamination" -> QueryDef(
      build = (spark, dir) => {
        import graft.functions.TextFunctions.{shingles, tokens}
        val d = Tables.spread(Tables.documents(spark, dir))
          .select(col("doc_id"), shingles(tokens(col("text")), 5).as("sh"))
          .filter(size(col("sh")) > 0)
        val ex = d.select(col("doc_id"), explode(col("sh")).as("g"))
          .select(col("doc_id"), xxhash64(col("g")).as("gh"))
        val evalSide = ex.filter(col("doc_id") < 25)
          .select(col("doc_id").as("eval_id"), col("gh"))
        val train = ex.filter(col("doc_id") >= 25)
          .select(col("doc_id").as("train_id"), col("gh"))
        train.join(broadcast(evalSide), Seq("gh"))
          .groupBy(col("eval_id"), col("train_id"))
          .agg(count(lit(1)).as("n_shared")) // shingles are per-doc distinct
          .orderBy(col("eval_id"), col("train_id"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(
                        range(1, greatest(len(toks) - 3, 1)),
                        i -> array_to_string(list_slice(toks, i, i + 4), ' ')))
                 AS grams
               FROM t),
        ex AS (SELECT doc_id, unnest(grams) AS g FROM sh WHERE len(grams) > 0)
        SELECT e.doc_id AS eval_id, tr.doc_id AS train_id, COUNT(*) AS n_shared
        FROM ex e JOIN ex tr ON e.g = tr.g
        WHERE e.doc_id < 25 AND tr.doc_id >= 25
        GROUP BY 1, 2 ORDER BY eval_id, train_id""")),

    // ---- q66: per-source document cap (C4-style domain cap) ----
    // Cap every source at 30 documents, picked by the deterministic key —
    // the standard guard against one domain dominating the mixture. Output
    // reports per-source population vs kept so the cap is auditable.
    "q66_source_cap" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
        val w = Window.partitionBy(col("source")).orderBy(col("pick_key"), col("doc_id"))
        val kept = d.select(col("source"), col("doc_id"), col("n_chars"),
            pickKey.as("pick_key"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 30)
        val totals = d.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
        kept.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
          .join(totals, Seq("source"))
          .select(col("source"), col("n_total"), col("n_kept"), col("chars_kept"))
          .orderBy(col("source"))
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT source, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY $SqlPickKey, doc_id) AS rn
          FROM documents),
        k AS (SELECT source, COUNT(*) AS n_kept,
                     CAST(SUM(n_chars) AS BIGINT) AS chars_kept
              FROM r WHERE rn <= 30 GROUP BY source),
        t AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source)
        SELECT k.source, t.n_total, k.n_kept, k.chars_kept
        FROM k JOIN t USING (source) ORDER BY source""")),

    // ---- q107: snapshot CDC diff (dataset-version change audit) ----
    // The diff a data platform runs between two versions of a derived
    // table: here, per-customer "active account state" (order count,
    // exact-decimal spend) over two adjacent 12-month activity windows.
    // Sliding windows (not cumulative) so entities genuinely appear
    // (added), lapse (removed), and shift volume (changed); the
    // unchanged class — exact state repetition — is structurally
    // possible but empty on this data (spend is continuous), so
    // `CurationDiffSpec` exercises it with planted versions instead.
    // Equality on exact decimals — no float compare in the classifier.
    //
    // 100 TB posture: two filtered partial→final aggs (the date predicate
    // is pushed to the scan) + ONE keyed full-outer join on the entity
    // key + a 4-group rollup. Nothing driver-side, both sides of the join
    // stay sharded; this is the shape snapshot diffing keeps at any
    // scale — never a row-level collect or a cross join of versions.
    "q107_snapshot_diff" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        def snap(from: String, until: String) =
          Tables.orders(spark, dir)
            .filter(col("o_orderdate") >= to_timestamp(lit(from)) &&
              col("o_orderdate") < to_timestamp(lit(until)))
            .groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast(DecimalType(28, 2))).as("spend"))
        snapshotDiff(
          snap("1994-07-01", "1995-07-01"),
          snap("1995-07-01", "1996-07-01"))
      },
      oracle = Some("""
        WITH v1 AS (
          SELECT o_custkey, COUNT(*) AS n1,
                 SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS s1
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1994-07-01'
            AND o_orderdate < TIMESTAMP '1995-07-01'
          GROUP BY o_custkey),
        v2 AS (
          SELECT o_custkey, COUNT(*) AS n2,
                 SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS s2
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1995-07-01'
            AND o_orderdate < TIMESTAMP '1996-07-01'
          GROUP BY o_custkey),
        d AS (
          SELECT CASE WHEN v1.o_custkey IS NULL THEN 'added'
                      WHEN v2.o_custkey IS NULL THEN 'removed'
                      WHEN v1.n1 = v2.n2 AND v1.s1 = v2.s2 THEN 'unchanged'
                      ELSE 'changed' END AS change_type,
                 COALESCE(v2.n2, 0) - COALESCE(v1.n1, 0) AS d_orders,
                 COALESCE(v2.s2, CAST(0 AS DECIMAL(28,2)))
                   - COALESCE(v1.s1, CAST(0 AS DECIMAL(28,2))) AS d_spend
          FROM v1 FULL OUTER JOIN v2 ON v1.o_custkey = v2.o_custkey)
        SELECT change_type, COUNT(*) AS n_customers,
               CAST(SUM(d_orders) AS BIGINT) AS orders_delta,
               CAST(SUM(d_spend) AS DOUBLE) AS spend_delta
        FROM d GROUP BY change_type ORDER BY change_type""")),

    // ---- q108: weighted sampling without replacement (A-ES) ----
    // Efraimidis–Spirakis reservoir keys: each doc draws a deterministic
    // uniform u from its md5 pick key and ranks by ln(u)/w with
    // w = n_chars + 1 — the top-k by that key IS a weighted sample
    // without replacement (longer docs proportionally likelier, no doc
    // twice). The sampler every mixture-building pipeline needs once
    // weights exist (q85/q101 produce them); hash-derived u makes the
    // draw reproducible across engines, partitionings, and reruns.
    // Per the q101 precedent: the transcendental (ln) is rounded to 9 dp
    // and the rounded value is the rank key, so both engines order
    // identically; (key, doc_id) is a total order.
    //
    // 100 TB posture: per-row arithmetic + ONE top-k
    // (TakeOrderedAndProject — per-partition heaps, no global sort); the
    // uniform comes from the row itself, so no RNG state, no driver.
    "q108_weighted_sample" -> QueryDef(
      build = (spark, dir) => {
        val uInt = conv(substring(pickKey, 1, 8), 16, 10).cast("long")
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars"),
            ((uInt + lit(1L)).cast("double") / lit(4294967297.0)).as("u"),
            (col("n_chars") + lit(1L)).cast("double").as("w"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            round(log(col("u")) / col("w"), 9).as("sample_key"))
          .orderBy(col("sample_key").desc, col("doc_id").asc)
          .limit(50)
      },
      oracle = Some(s"""
        SELECT doc_id, source, n_chars,
               ROUND(LN((CAST(CONCAT('0x', substr($SqlPickKey, 1, 8)) AS BIGINT)
                         + 1) / 4294967297.0)
                     / (n_chars + 1), 9) AS sample_key
        FROM documents
        ORDER BY sample_key DESC, doc_id ASC LIMIT 50""")),

    // ---- q118: per-source data cards ----
    // The "datasheet" a dataset release ships per source/subset
    // (Gebru et al., "Datasheets for Datasets"): volume, language
    // breadth, length distribution, exact-dup rate, dominant language.
    // Running it per release turns curation drift (a source suddenly
    // shrinking, a language mix flipping, dup rate spiking) into a
    // diffable table instead of a surprise downstream.
    //
    // 100 TB posture: one pass of per-source aggregation. The multi-
    // DISTINCT agg expands to (source, lang)/(source, sig) partial
    // dedup shuffles — each keyed on a high-cardinality composite, so
    // a giant source never concentrates; the length percentiles group
    // ≤|sources| sorted sets (per-source value lists — the bounded-
    // domain histogram form is q116 when a source is truly hot); the
    // top-lang window runs over |sources|·|langs| aggregated rows.
    "q118_source_datacards" -> QueryDef(
      build = (spark, dir) => {
        val base = Tables.documents(spark, dir)
          .select(col("source"), col("lang"), col("n_chars"),
            md5(col("text")).as("sig"))
        base.createOrReplaceTempView("docs_q118")
        val agg = base.sparkSession.sql("""
          SELECT source, COUNT(*) AS n_docs,
                 COUNT(DISTINCT lang) AS n_langs,
                 SUM(n_chars) AS total_chars,
                 percentile(n_chars, 0.5D) AS p50_chars,
                 percentile(n_chars, 0.9D) AS p90_chars,
                 ROUND(1.0D - CAST(COUNT(DISTINCT sig) AS DOUBLE)
                       / COUNT(*), 6) AS dup_rate
          FROM docs_q118 GROUP BY source""")
        val top = base.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("c").desc, col("lang"))))
          .filter(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"))
        agg.join(top, Seq("source")).orderBy(col("source"))
      },
      oracle = Some("""
        WITH base AS (SELECT source, lang, n_chars, md5(text) AS sig
                      FROM documents),
        agg AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                 quantile_cont(n_chars, 0.5) AS p50_chars,
                 quantile_cont(n_chars, 0.9) AS p90_chars,
                 ROUND(1.0 - CAST(COUNT(DISTINCT sig) AS DOUBLE)
                       / COUNT(*), 6) AS dup_rate
          FROM base GROUP BY source),
        lc AS (SELECT source, lang, COUNT(*) AS c FROM base GROUP BY 1, 2),
        top AS (SELECT source, lang AS top_lang,
                       ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY c DESC, lang) AS rn
                FROM lc)
        SELECT a.source, a.n_docs, a.n_langs, a.total_chars,
               a.p50_chars, a.p90_chars, a.dup_rate, t.top_lang
        FROM agg a JOIN top t ON a.source = t.source AND t.rn = 1
        ORDER BY a.source""")),

    // ---- q122: exact-K proportional allocation (largest remainder) ----
    // "Give me exactly 100 docs, split across languages proportionally to
    // their share" — q63 fixes k PER stratum, q85 floors per-stratum
    // targets (total can undershoot); this is the third allocator: the
    // Hamilton / largest-remainder method guarantees Σalloc = K exactly
    // while staying within one doc of true proportionality (quota rule).
    // Eval-set construction and per-domain token budgeting both need this
    // exact-total form.
    //
    // Determinism: quotas are computed in INTEGER arithmetic only —
    // floor = (K·n_i) div N, remainder = (K·n_i) mod N — so allocation is
    // bit-exact in any engine; the leftover seats go to the largest
    // remainders with a lang tie-break, and the member pick is the md5
    // key (engine-portable, reproducible).
    //
    // 100 TB posture: stratum stats are one partial→final agg; the
    // allocation table is |strata| rows (broadcast); the pick is one
    // per-stratum window over key-partitioned data. The only global
    // window orders |strata| aggregated rows — constant-size.
    "q122_largest_remainder_alloc" -> QueryDef(
      build = (spark, dir) => {
        val strata = Tables.documents(spark, dir)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val tot = strata.agg(sum(col("n_docs")).as("n_total"))
        val quotas = strata.crossJoin(broadcast(tot))
          .withColumn("fl", expr("(100 * n_docs) div n_total"))
          .withColumn("rem", expr("(100 * n_docs) % n_total"))
        val leftover = quotas.agg((lit(100L) - sum(col("fl"))).as("leftover"))
        val alloc = quotas.crossJoin(broadcast(leftover))
          .withColumn("xrn", row_number().over(
            Window.orderBy(col("rem").desc, col("lang"))))
          .withColumn("alloc",
            (col("fl") + when(col("xrn") <= col("leftover"), 1L)
              .otherwise(0L)).cast("long"))
          .select(col("lang"), col("n_docs"), col("alloc"))
        val ranked = Tables.documents(spark, dir)
          .select(col("lang"), col("doc_id"), pickKey.as("pick_key"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("pick_key"), col("doc_id"))).cast("long"))
        ranked.join(broadcast(alloc), Seq("lang"))
          .filter(col("rk") <= col("alloc"))
          .select(col("lang"), col("n_docs"), col("alloc"), col("rk"),
            col("doc_id"))
          .orderBy(col("lang"), col("rk"))
      },
      oracle = Some(s"""
        WITH s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
                   FROM documents GROUP BY lang),
        t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM s),
        q AS (SELECT lang, n_docs,
                     (100 * n_docs) // n_total AS fl,
                     (100 * n_docs) % n_total AS rem
              FROM s, t),
        l AS (SELECT CAST(100 - SUM(fl) AS BIGINT) AS leftover FROM q),
        a AS (SELECT lang, n_docs,
                     CAST(fl + CASE WHEN ROW_NUMBER() OVER
                                      (ORDER BY rem DESC, lang) <= leftover
                               THEN 1 ELSE 0 END AS BIGINT) AS alloc
              FROM q, l),
        r AS (SELECT lang, doc_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY $SqlPickKey, doc_id) AS BIGINT) AS rk
              FROM documents)
        SELECT r.lang, a.n_docs, a.alloc, r.rk, r.doc_id
        FROM r JOIN a USING (lang) WHERE r.rk <= a.alloc
        ORDER BY lang, rk""")),

    // ---- q123: pairwise source-overlap audit ----
    // Vocabulary Jaccard between every pair of sources — the audit that
    // catches two crawl snapshots (or two vendors) shipping the same
    // content under different names before dedup spends a corpus pass on
    // it. Token-set overlap is the cheap corpus-level screen; doc-level
    // dedup (q46/q113) then targets the flagged pairs.
    //
    // 100 TB posture: the corpus-sized stage is the DISTINCT
    // (source, token) projection — keyed partial agg, skew-free. The
    // pair join is posting-list shaped: a token contributes at most
    // |sources|² pair rows regardless of how many docs contain it, so
    // cost is |vocab|·S² with S = #sources (constant), never doc².
    "q123_source_overlap" -> QueryDef(
      build = (spark, dir) => {
        import graft.functions.TextFunctions.tokens
        val st = Tables.documents(spark, dir)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .distinct()
        val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_toks"))
        val inter = st.select(col("source").as("source_a"), col("tok"))
          .join(st.select(col("source").as("source_b"), col("tok")), Seq("tok"))
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_common"))
        inter
          .join(broadcast(sizes.select(col("source").as("source_a"),
            col("n_toks").as("n_a"))), Seq("source_a"))
          .join(broadcast(sizes.select(col("source").as("source_b"),
            col("n_toks").as("n_b"))), Seq("source_b"))
          .withColumn("jaccard", round(col("n_common").cast("double")
            / (col("n_a") + col("n_b") - col("n_common")), 6))
          .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
            col("n_common"), col("jaccard"))
          .orderBy(col("jaccard").desc, col("source_a"), col("source_b"))
      },
      oracle = Some("""
        WITH st AS (SELECT DISTINCT source, tok FROM (
               -- \s+ split mirrors TextFunctions.tokens exactly; the
               -- single-space form only agreed because the corpus never
               -- contains whitespace runs (ADVICE r5).
               SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
               FROM documents) u),
        sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_toks
                  FROM st GROUP BY source),
        inter AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
          GROUP BY 1, 2)
        SELECT i.source_a, i.source_b, sa.n_toks AS n_a, sb.n_toks AS n_b,
               i.n_common,
               ROUND(CAST(i.n_common AS DOUBLE)
                     / (sa.n_toks + sb.n_toks - i.n_common), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.source_a = sa.source
        JOIN sizes sb ON i.source_b = sb.source
        ORDER BY jaccard DESC, source_a, source_b""")),

    // ---- q179: curation funnel with single-pass accounting ----
    // The audit table every production pipeline publishes next to its
    // corpus: per funnel stage, how many documents it removed and how
    // much text that was ("first rejecting stage wins" attribution).
    // Exercises [[graft.operators.CurationPipeline]] — stages are
    // MARKED, not filtered, so survivorship AND the full audit come out
    // of ONE aggregation over one scan instead of one count() per stage
    // re-executing the lineage prefix (N scans of 100 TB for an N-stage
    // funnel). The dedup stage's keep-one window orders already-dropped
    // rows last, so a length- or language-rejected row can never be the
    // kept representative of a duplicate group — the subtle bug the
    // operator's Stage contract exists to prevent, and exactly what the
    // oracle's (d2 IS NOT NULL) window key replays.
    //
    // 100 TB posture: per-row predicates are map-side; the only
    // corpus-scale shuffle is the dedup window's hash partition on
    // md5(text) (near-unique key, even spread); the audit agg is
    // |stages|-cardinality. Stage names are chosen to sort in funnel
    // order with "kept" last.
    "q179_curation_accounting" -> QueryDef(
      build = (spark, dir) => {
        import graft.operators.CurationPipeline
        import graft.operators.CurationPipeline.Stage
        val stages = Seq(
          Stage("a_too_short", _ => col("n_chars") >= 80),
          Stage("b_lang", _ => col("lang").isin("de", "en", "es", "fr")),
          CurationPipeline.dedupKeepOne("c_exact_dup",
            md5(col("text").cast("binary")), col("doc_id")))
        CurationPipeline.accounting(
          Tables.documents(spark, dir), stages, col("n_chars"))
      },
      oracle = Some("""
        WITH m1 AS (SELECT doc_id, lang, n_chars, text,
                           CASE WHEN n_chars < 80 THEN 'a_too_short' END AS d1
                    FROM documents),
        m2 AS (SELECT *,
                      CASE WHEN d1 IS NOT NULL THEN d1
                           WHEN lang NOT IN ('de', 'en', 'es', 'fr')
                             THEN 'b_lang' END AS d2
               FROM m1),
        m3 AS (SELECT *,
                      ROW_NUMBER() OVER (PARTITION BY md5(text)
                        ORDER BY (d2 IS NOT NULL), doc_id) AS rn
               FROM m2),
        m4 AS (SELECT CASE WHEN d2 IS NOT NULL THEN d2
                           WHEN rn > 1 THEN 'c_exact_dup' END AS ds, n_chars
               FROM m3)
        SELECT COALESCE(ds, 'kept') AS stage,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM m4 GROUP BY 1 ORDER BY stage""")),

    // ---- q216: information-gain best split (decision-stump search) ----
    // The supervised-filter primitive (and the inner loop of every GBDT
    // library): among all thresholds t on doc length, which split
    // "n_chars <= t" best separates English from non-English docs, by
    // information gain IG(t) = H(S) − (nL/N)·H(L) − (nR/N)·H(R)?
    // Determinism: each ln is rounded once at 9 dp (continuous, the
    // q112/q207 class); the entropy/gain combination is pure IEEE double
    // arithmetic on identical inputs (bit-deterministic in both
    // engines), rounded once at 6 dp; 0·ln0 handled by an exact CASE.
    // Top 10 by (gain DESC, threshold) — complete tie-break.
    //
    // 100 TB posture: one value-keyed histogram agg (shuffle =
    // |distinct lengths|, not |docs|); the cumulative window and gain
    // arithmetic run on the value-domain-sized histogram (hundreds of
    // rows at any SF); top-k is TakeOrdered, never a global sort.
    "q216_info_gain_split" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .select(col("n_chars").cast("long").as("v"),
            when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        val hist = docs.groupBy(col("v"))
          .agg(count(lit(1)).as("c"), sum(col("pos")).as("cp"))
        val tot = docs.agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
        val wv = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def ln9(x: org.apache.spark.sql.Column) = round(log(x), 9)
        def h(a: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =
          when(a === 0 || a === n, lit(0.0))
            .otherwise(-(a.cast("double") / n * ln9(a.cast("double") / n)
              + (n - a).cast("double") / n * ln9((n - a).cast("double") / n)))
        hist.crossJoin(broadcast(tot))
          .withColumn("nl", sum(col("c")).over(wv))
          .withColumn("pl", sum(col("cp")).over(wv))
          .filter(col("nl") < col("n"))
          .withColumn("nr", col("n") - col("nl"))
          .withColumn("pr", col("p") - col("pl"))
          .select(col("v").as("threshold"), col("nl").as("n_left"),
            col("pl").as("pos_left"), col("nr").as("n_right"),
            col("pr").as("pos_right"),
            round(h(col("p"), col("n"))
              - col("nl").cast("double") / col("n") * h(col("pl"), col("nl"))
              - col("nr").cast("double") / col("n") * h(col("pr"), col("nr")),
              6).as("gain"))
          .orderBy(col("gain").desc, col("threshold")).limit(10)
      },
      oracle = Some("""
        WITH d AS (SELECT CAST(n_chars AS BIGINT) AS v,
                          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
                   FROM documents),
        h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
                     CAST(SUM(pos) AS BIGINT) AS cp
              FROM d GROUP BY v),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(pos) AS BIGINT) AS p FROM d),
        cum AS (SELECT v, n, p,
                       CAST(SUM(c) OVER w AS BIGINT) AS nl,
                       CAST(SUM(cp) OVER w AS BIGINT) AS pl
                FROM h CROSS JOIN t
                WINDOW w AS (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        f AS (SELECT v AS threshold, nl, pl, n - nl AS nr, p - pl AS pr,
                     n, p
              FROM cum WHERE nl < n)
        SELECT threshold, nl AS n_left, pl AS pos_left, nr AS n_right,
               pr AS pos_right,
               ROUND(
                 (CASE WHEN p = 0 OR p = n THEN 0.0
                       ELSE -(CAST(p AS DOUBLE)/n
                           * ROUND(ln(CAST(p AS DOUBLE)/n), 9)
                         + CAST(n - p AS DOUBLE)/n
                           * ROUND(ln(CAST(n - p AS DOUBLE)/n), 9)) END)
                 - CAST(nl AS DOUBLE)/n
                   * (CASE WHEN pl = 0 OR pl = nl THEN 0.0
                           ELSE -(CAST(pl AS DOUBLE)/nl
                               * ROUND(ln(CAST(pl AS DOUBLE)/nl), 9)
                             + CAST(nl - pl AS DOUBLE)/nl
                               * ROUND(ln(CAST(nl - pl AS DOUBLE)/nl), 9))
                      END)
                 - CAST(nr AS DOUBLE)/n
                   * (CASE WHEN pr = 0 OR pr = nr THEN 0.0
                           ELSE -(CAST(pr AS DOUBLE)/nr
                               * ROUND(ln(CAST(pr AS DOUBLE)/nr), 9)
                             + CAST(nr - pr AS DOUBLE)/nr
                               * ROUND(ln(CAST(nr - pr AS DOUBLE)/nr), 9))
                      END)
               , 6) AS gain
        FROM f ORDER BY gain DESC, threshold LIMIT 10""")),

    // ---- q271: the production pipeline capstone — ONE plan ----
    // raw → curated → deduped → mixed → packed → data card, composed as
    // a SINGLE declarative lineage (no driver-side stage boundaries, no
    // checkpoints): every stage the corpus already gates in isolation
    // (q83-family quality rules, q91 exact dedup, q85/q101 mixing, q87
    // packing, q200 card), chained the way production actually runs
    // them — because composition is where bugs hide that no per-stage
    // gate can see (a dedup that inspects pre-curation rows, a mix
    // quota computed over the wrong population, packing that counts
    // dropped docs). Stage membership travels as IN-ROW FLAGS (qual_ok,
    // dedup_keep, mix_keep) rather than filters, so the per-source card
    // reports every stage's count from one aggregation and the oracle
    // replays the entire chain in one SQL statement. Stage rules:
    // curation = token count in [10, 2000] + mean token length in
    // [2, 12] (integer cross-multiplied); dedup = earliest CURATED doc
    // per exact md5(text) (keep-first rank, the q179 ordering trick);
    // mix = deterministic 70% per-source downsample by md5 pick-key
    // rank among survivors (r·10 ≤ n_src·7 — exact integers); packing =
    // q87's greedy running-cumsum at capacity 2048, keeps-only
    // contributions, straddling doc stays in the pack it started.
    //
    // 100 TB posture: ONE corpus scan; windows hash-partition by
    // md5(text) (dedup) and source (mix rank / quota / pack cumsum —
    // one exchange, reused); the card is a per-source partial/final
    // agg. Nothing is quadratic, nothing collects, nothing re-scans.
    "q271_pipeline_capstone" -> QueryDef(
      build = (spark, dir) => {
        val cap = 2048L
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars"),
            size(split(trim(col("text")), " ")).cast("long").as("n_tokens"),
            md5(col("text").cast("binary")).as("h"),
            md5(concat(lit("q271#"), col("doc_id").cast("string"),
              col("text")).cast("binary")).as("pick"))
          .withColumn("qual_ok",
            col("n_tokens") >= 10 && col("n_tokens") <= 2000 &&
              col("n_chars") >= col("n_tokens") * 2 &&
              col("n_chars") <= col("n_tokens") * 12)
        val wDedup = Window.partitionBy(col("h"))
          .orderBy(when(col("qual_ok"), 0L).otherwise(1L), col("doc_id"))
        val wQuota = Window.partitionBy(col("source"))
        val wMix = Window.partitionBy(col("source"))
          .orderBy(when(col("dedup_keep"), 0L).otherwise(1L), col("pick"),
            col("doc_id"))
        val wPack = Window.partitionBy(col("source"))
          .orderBy(col("pick"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val staged = d
          .withColumn("dedup_keep",
            col("qual_ok") && row_number().over(wDedup) === 1)
          .withColumn("n_src",
            sum(when(col("dedup_keep"), 1L).otherwise(0L)).over(wQuota))
          .withColumn("r", row_number().over(wMix))
          .withColumn("mix_keep",
            col("dedup_keep") && col("r") * 10 <= col("n_src") * 7)
          .withColumn("cum", coalesce(
            sum(when(col("mix_keep"), col("n_tokens")).otherwise(0L))
              .over(wPack), lit(0L)))
          .withColumn("pack_id", when(col("mix_keep"),
            floor(col("cum").cast("double") / lit(cap.toDouble))))
        staged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_raw"),
            sum(col("n_tokens")).as("tokens_raw"),
            sum(when(col("qual_ok"), 1L).otherwise(0L)).as("n_curated"),
            sum(when(col("dedup_keep"), 1L).otherwise(0L)).as("n_deduped"),
            sum(when(col("mix_keep"), 1L).otherwise(0L)).as("n_mixed"),
            sum(when(col("mix_keep"), col("n_tokens")).otherwise(0L))
              .as("tokens_mixed"),
            (coalesce(max(col("pack_id")), lit(-1L)) + 1).as("n_packs"))
          .withColumn("retained_ppm", expr("n_mixed * 1000000 div n_raw"))
          .withColumn("pack_fill_ppm", when(col("n_packs") > 0,
            expr(s"tokens_mixed * 1000000 div (n_packs * $cap)"))
            .otherwise(lit(0L)))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, source, n_chars,
                          CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                            AS n_tokens,
                          md5(text) AS h,
                          md5('q271#' || CAST(doc_id AS VARCHAR) || text)
                            AS pick
                   FROM documents),
        q AS (SELECT *, (n_tokens >= 10 AND n_tokens <= 2000
                         AND n_chars >= n_tokens * 2
                         AND n_chars <= n_tokens * 12) AS qual_ok FROM d),
        dd AS (SELECT *, (qual_ok AND ROW_NUMBER() OVER (PARTITION BY h
                 ORDER BY CASE WHEN qual_ok THEN 0 ELSE 1 END, doc_id) = 1)
                 AS dedup_keep FROM q),
        mx AS (SELECT *,
                 CAST(SUM(CASE WHEN dedup_keep THEN 1 ELSE 0 END)
                   OVER (PARTITION BY source) AS BIGINT) AS n_src,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY CASE WHEN dedup_keep THEN 0 ELSE 1 END, pick,
                     doc_id) AS r
               FROM dd),
        mk AS (SELECT *, (dedup_keep AND r * 10 <= n_src * 7) AS mix_keep
               FROM mx),
        pk AS (SELECT *,
                 COALESCE(SUM(CASE WHEN mix_keep THEN n_tokens ELSE 0 END)
                   OVER (PARTITION BY source ORDER BY pick, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum
               FROM mk),
        pp AS (SELECT *, CASE WHEN mix_keep
                 THEN CAST(FLOOR(CAST(cum AS DOUBLE) / 2048) AS BIGINT)
                 END AS pack_id
               FROM pk)
        SELECT source, COUNT(*) AS n_raw,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_raw,
               CAST(SUM(CASE WHEN qual_ok THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_curated,
               CAST(SUM(CASE WHEN dedup_keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_deduped,
               CAST(SUM(CASE WHEN mix_keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mixed,
               CAST(SUM(CASE WHEN mix_keep THEN n_tokens ELSE 0 END)
                 AS BIGINT) AS tokens_mixed,
               COALESCE(MAX(pack_id), -1) + 1 AS n_packs,
               CAST(SUM(CASE WHEN mix_keep THEN 1 ELSE 0 END) AS BIGINT)
                 * 1000000 // COUNT(*) AS retained_ppm,
               CASE WHEN COALESCE(MAX(pack_id), -1) + 1 > 0
                    THEN CAST(SUM(CASE WHEN mix_keep THEN n_tokens ELSE 0
                           END) AS BIGINT) * 1000000
                         // ((COALESCE(MAX(pack_id), -1) + 1) * 2048)
                    ELSE 0 END AS pack_fill_ppm
        FROM pp GROUP BY source ORDER BY source"""),
      headline = true),

    // ---- q277: compression-ratio quality filter (real zlib) ----
    // See [[graft.operators.CompressionStats]] — the production
    // cheap-quality screen: per-doc deflate ratio through the JDK's
    // real zlib, rolled up per source with the two drop bands (ratio <
    // 0.35 = repetition/boilerplate, > 0.90 = binary-ish junk). Oracle
    // pattern as q60/q208: Verify materializes the per-doc
    // measurements (`_q277_input`), DuckDB re-aggregates the rollup
    // and band counts over identical rows; the kernel's ordering
    // properties are spec-pinned (CompressionStatsSpec).
    //
    // 100 TB posture: deflate is one partition-local pass per doc
    // (native buffer freed per row); the rollup is |sources| rows.
    "q277_compression_ratio" -> QueryDef(
      build = (spark, dir) => {
        import graft.operators.CompressionStats
        CompressionStats.ratioRows(Tables.documents(spark, dir))
          .withColumn("ratio_ppm",
            expr("defl_len * 1000000 div greatest(raw_len, 1L)"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("raw_len")).as("raw_bytes"),
            sum(col("defl_len")).as("defl_bytes"),
            expr("sum(ratio_ppm) div count(1)").as("mean_ratio_ppm"),
            sum(when(col("ratio_ppm") < 350000L, 1L).otherwise(0L))
              .as("n_too_compressible"),
            sum(when(col("ratio_ppm") > 900000L, 1L).otherwise(0L))
              .as("n_incompressible"))
          .withColumn("corpus_ratio_ppm",
            expr("defl_bytes * 1000000 div greatest(raw_bytes, 1L)"))
          .orderBy(col("source"))
      },
      oracle = Some(s"""
        WITH f AS (SELECT source, raw_len, defl_len,
                          defl_len * 1000000 // GREATEST(raw_len, 1)
                            AS ratio_ppm
                   FROM ${VerifyInputs.staged("_q277_input")})
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(raw_len) AS BIGINT) AS raw_bytes,
               CAST(SUM(defl_len) AS BIGINT) AS defl_bytes,
               CAST(SUM(ratio_ppm) AS BIGINT) // COUNT(*) AS mean_ratio_ppm,
               CAST(SUM(CASE WHEN ratio_ppm < 350000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_too_compressible,
               CAST(SUM(CASE WHEN ratio_ppm > 900000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_incompressible,
               CAST(SUM(defl_len) AS BIGINT) * 1000000
                 // GREATEST(CAST(SUM(raw_len) AS BIGINT), 1)
                 AS corpus_ratio_ppm
        FROM f GROUP BY source ORDER BY source""")),

    // ---- q291: data-pruning frontier (quality vs quantity) ----
    // The curation decision every filtered-pretraining paper tables:
    // rank the corpus by a quality score, then for each retention level
    // read off how many tokens survive and what the kept slice's mean
    // quality is — the frontier that shows where pruning stops buying
    // quality. Score = the stop-token rate per mille (the q233 labeling
    // rule's own signal, computed IN-ROW with a codegen'd higher-order
    // filter — no explode, no UDF); ranking rides the stat-routed
    // [[graft.operators.GlobalRank]]; the frontier is a 10-row
    // cumulative window over the per-decile rollup. Exact integers
    // end to end (means cross-multiplied before ONE div; token sums in
    // DECIMAL(38,0)/HUGEINT).
    //
    // 100 TB posture: one in-row scoring pass + the routed rank + a
    // 10-row decile rollup; the cumulative frontier runs at decile
    // cardinality.
    "q291_pruning_frontier" -> QueryDef(
      build = (spark, dir) => {
        import graft.operators.GlobalRank
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"),
            expr("size(filter(split(trim(text), ' ')," +
              " t -> t = 'the' OR t = 'a'))").cast("long").as("stops"),
            size(split(trim(col("text")), " ")).cast("long")
              .as("n_tokens"))
          .withColumn("score",
            expr("stops * 1000 div greatest(n_tokens, 1L)"))
          .localCheckpoint(false)
        val n = d.count()
        val (_, ranked) = GlobalRank.withRankAndPrefixAuto(
          d, "score", "doc_id", rowCount = Some(n))
        val dec = ranked
          .withColumn("decile", expr(s"(10 * (rn - 1)) div ${n}L + 1"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("nd"),
            sum(col("n_tokens").cast(DecimalType(38, 0))).as("tk"),
            sum(col("score").cast(DecimalType(38, 0))).as("sc"))
        val tot = dec.agg(
          sum(col("tk")).cast(DecimalType(38, 0)).as("tk_all"))
        val w = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dec.crossJoin(broadcast(tot))
          .withColumn("n_docs_kept", sum(col("nd")).over(w))
          .withColumn("tokens_kept",
            expr("CAST(sum(tk) OVER (ORDER BY decile" +
              " ROWS UNBOUNDED PRECEDING) AS BIGINT)"))
          .withColumn("cum_sc", sum(col("sc")).over(w))
          .select(col("decile").as("retention_decile"),
            col("n_docs_kept"), col("tokens_kept"),
            expr("CAST(CAST(tokens_kept AS DECIMAL(38,0)) * 1000000" +
              " div tk_all AS BIGINT)").as("tokens_share_ppm"),
            expr("CAST(cum_sc div n_docs_kept AS BIGINT)")
              .as("mean_score_kept"))
          .orderBy(col("retention_decile"))
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id,
                          CAST(len(list_filter(
                            string_split(trim(text), ' '),
                            t -> t = 'the' OR t = 'a')) AS BIGINT)
                            AS stops,
                          CAST(len(string_split(trim(text), ' '))
                            AS BIGINT) AS n_tokens
                   FROM documents),
        s AS (SELECT doc_id, n_tokens,
                     stops * 1000 // GREATEST(n_tokens, 1) AS score
              FROM d),
        n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
        r AS (SELECT s.*, CAST(ROW_NUMBER() OVER
                (ORDER BY score DESC, doc_id) AS BIGINT) AS rn
              FROM s),
        dec AS (SELECT (10 * (rn - 1)) // n1.n + 1 AS decile,
                       CAST(COUNT(*) AS BIGINT) AS nd,
                       CAST(SUM(n_tokens) AS HUGEINT) AS tk,
                       CAST(SUM(score) AS HUGEINT) AS sc
                FROM r CROSS JOIN n1 GROUP BY 1),
        tot AS (SELECT CAST(SUM(tk) AS HUGEINT) AS tk_all FROM dec),
        cum AS (SELECT decile,
                       CAST(SUM(nd) OVER w AS BIGINT) AS n_docs_kept,
                       CAST(SUM(tk) OVER w AS BIGINT) AS tokens_kept,
                       SUM(sc) OVER w AS cum_sc
                FROM dec WINDOW w AS (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING))
        SELECT decile AS retention_decile, n_docs_kept, tokens_kept,
               CAST(CAST(tokens_kept AS HUGEINT) * 1000000 // tot.tk_all
                 AS BIGINT) AS tokens_share_ppm,
               CAST(cum_sc // n_docs_kept AS BIGINT) AS mean_score_kept
        FROM cum CROSS JOIN tot ORDER BY retention_decile""")),

    // ---- q296: snapshot-diff data card (what did today's crawl add) --
    // The reporting dual of the incremental-OPERATOR family (q84 dedup,
    // q191 LSH, q246 classifier, q274 IVF maintain state; this gate
    // reports): yesterday's snapshot = even doc_ids (the family's
    // convention), today = the full corpus, and the card answers the
    // ops question per source: documents and tokens added, how many of
    // the added WORDS are globally novel (anti-join against yesterday's
    // whole vocabulary — new types, not new tokens), and the quality
    // shift (mean stop-rate of new docs minus old, exact per-mille —
    // a drop says the new crawl slice is different material, the first
    // sign of a source going stale or spammy).
    //
    // 100 TB posture: keyed aggs + one vocab anti-join (hash-keyed on
    // the word) — yesterday's vocab is corpus-sized but the join is an
    // equijoin, never a broadcast of the big side; card is |sources|
    // rows.
    "q296_snapshot_diff_card" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            expr("size(filter(split(trim(text), ' ')," +
              " t -> t = 'the' OR t = 'a'))").cast("long").as("stops"),
            size(split(trim(col("text")), " ")).cast("long")
              .as("n_tokens"),
            split(trim(col("text")), " ").as("toks"))
          .withColumn("score",
            expr("stops * 1000 div greatest(n_tokens, 1L)"))
          .localCheckpoint(false)
        val old = d.filter(col("doc_id") % 2 === 0)
        val neu = d.filter(col("doc_id") % 2 === 1)
        val oldVocab = old
          .select(explode(col("toks")).as("w"))
          .filter(length(col("w")) > 0).distinct()
        val newWords = neu
          .select(col("source"), explode(col("toks")).as("w"))
          .filter(length(col("w")) > 0)
          .select(col("source"), col("w")).distinct()
          .join(oldVocab, Seq("w"), "left_anti")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("new_vocab_terms"))
        val oc = old.groupBy(col("source"))
          .agg(count(lit(1)).as("docs_old"), sum(col("score")).as("so"))
        val nc = neu.groupBy(col("source"))
          .agg(count(lit(1)).as("docs_new"),
            sum(col("n_tokens")).as("tokens_added"),
            sum(col("score")).as("sn"))
        oc.join(nc, Seq("source"), "full_outer")
          .join(newWords, Seq("source"), "left")
          .select(col("source"),
            coalesce(col("docs_old"), lit(0L)).as("docs_old"),
            coalesce(col("docs_new"), lit(0L)).as("docs_new"),
            coalesce(col("tokens_added"), lit(0L)).as("tokens_added"),
            coalesce(col("new_vocab_terms"), lit(0L))
              .as("new_vocab_terms"),
            coalesce(col("so"), lit(0L)).as("so"),
            coalesce(col("sn"), lit(0L)).as("sn"))
          .withColumn("score_old_milli",
            expr("so div greatest(docs_old, 1L)"))
          .withColumn("score_new_milli",
            expr("sn div greatest(docs_new, 1L)"))
          .select(col("source"), col("docs_old"), col("docs_new"),
            col("tokens_added"), col("new_vocab_terms"),
            col("score_old_milli"), col("score_new_milli"),
            (col("score_new_milli") - col("score_old_milli"))
              .as("quality_shift_milli"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH d AS MATERIALIZED (
          SELECT doc_id, source,
                 CAST(len(list_filter(string_split(trim(text), ' '),
                   t -> t = 'the' OR t = 'a')) AS BIGINT) AS stops,
                 CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS n_tokens,
                 string_split(trim(text), ' ') AS toks
          FROM documents),
        s AS (SELECT *, stops * 1000 // GREATEST(n_tokens, 1) AS score
              FROM d),
        ov AS (SELECT DISTINCT w
               FROM (SELECT UNNEST(toks) AS w FROM s
                     WHERE doc_id % 2 = 0)
               WHERE len(w) > 0),
        nw AS (SELECT source, CAST(COUNT(*) AS BIGINT)
                 AS new_vocab_terms
               FROM (SELECT DISTINCT source, w
                     FROM (SELECT source, UNNEST(toks) AS w FROM s
                           WHERE doc_id % 2 = 1)
                     WHERE len(w) > 0) x
               WHERE NOT EXISTS (SELECT 1 FROM ov WHERE ov.w = x.w)
               GROUP BY 1),
        oc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_old,
                      CAST(SUM(score) AS BIGINT) AS so
               FROM s WHERE doc_id % 2 = 0 GROUP BY 1),
        nc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_new,
                      CAST(SUM(n_tokens) AS BIGINT) AS tokens_added,
                      CAST(SUM(score) AS BIGINT) AS sn
               FROM s WHERE doc_id % 2 = 1 GROUP BY 1),
        m AS (SELECT COALESCE(oc.source, nc.source) AS source,
                     COALESCE(docs_old, 0) AS docs_old,
                     COALESCE(docs_new, 0) AS docs_new,
                     COALESCE(tokens_added, 0) AS tokens_added,
                     COALESCE(so, 0) AS so, COALESCE(sn, 0) AS sn
              FROM oc FULL OUTER JOIN nc ON nc.source = oc.source)
        SELECT m.source, m.docs_old, m.docs_new, m.tokens_added,
               COALESCE(nw.new_vocab_terms, 0) AS new_vocab_terms,
               m.so // GREATEST(m.docs_old, 1) AS score_old_milli,
               m.sn // GREATEST(m.docs_new, 1) AS score_new_milli,
               m.sn // GREATEST(m.docs_new, 1)
                 - m.so // GREATEST(m.docs_old, 1)
                 AS quality_shift_milli
        FROM m LEFT JOIN nw ON nw.source = m.source
        ORDER BY m.source""")),

    // ---- q306: exact Shapley source valuation for coverage ----
    // Data VALUATION — what is each source's contribution WORTH? — the
    // question behind paying data vendors and pruning acquisition
    // budgets, distinct from q220's greedy max-coverage (which source
    // to BUY NEXT) and q159's novelty (what a source adds vs the rest,
    // i.e. its marginal at one coalition). The Shapley value averages
    // a source's marginal contribution over ALL coalition orders —
    // normally exponential, but for a COVERAGE game it collapses to a
    // closed form: each covered element (word 3-shingle) splits its
    // credit equally among the k sources containing it, so
    // shapley(s) = Σ_{shingle ∈ s} 1/k(shingle) — exact, relational,
    // one posting-shaped join. Credits are truncated micro-units
    // (10⁶ div k — identical in both engines by definition); the
    // truncation deficit vs |universe|·10⁶ is published (efficiency
    // axiom checked in-data), and the Shapley ranking is printed
    // BESIDE the naive distinct-count ranking — the two disagree
    // exactly when a source's vocabulary is large but shared, which is
    // the insight the statistic is for.
    //
    // 100 TB posture: corpus-scale work is the DISTINCT
    // (source, shingle) projection (keyed partial agg) + one
    // shingle-keyed ownership count + one posting-shaped equijoin
    // (a shingle contributes ≤ |sources| rows however many docs
    // contain it); the per-source rollup and rank windows run on
    // |sources| rows.
    "q306_shapley_coverage" -> QueryDef(
      build = (spark, dir) => {
        import graft.functions.TextFunctions.tokens
        val st = Tables.documents(spark, dir)
          .select(col("source"), col("text"))
          .withColumn("toks", tokens(col("text")))
          .select(col("source"), explode(expr(
            "CASE WHEN size(toks) >= 3 THEN transform(" +
              "sequence(0, size(toks) - 3)," +
              " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))" +
              " ELSE array() END")).as("sh"))
          .distinct()
        val own = st.groupBy(col("sh")).agg(count(lit(1)).as("k"))
        val per = st.join(own, "sh")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("k") === 1L, 1L).otherwise(0L))
              .as("n_exclusive"),
            // DECIMAL accumulation: a long Σ of micro-credits wraps
            // silently past ~9.2e12 covered elements (the q258 lesson)
            // while DuckDB's BIGINT sum widens to HUGEINT
            sum(expr("CAST(1000000 div k AS DECIMAL(38,0))"))
              .cast("long").as("shapley_micro"))
        val nd = Tables.documents(spark, dir)
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val su = own.agg(count(lit(1)).as("total_shingles"))
          .crossJoin(broadcast(
            per.agg(sum(col("shapley_micro").cast(
              org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)))
              .cast("long").as("sum_credit_micro"))))
          .withColumn("trunc_deficit_micro", expr(
            "CAST(CAST(total_shingles AS DECIMAL(38,0)) * 1000000" +
              " - sum_credit_micro AS BIGINT)"))
        per.join(nd, "source")
          .withColumn("rank_shapley", row_number().over(
            Window.orderBy(col("shapley_micro").desc, col("source"))))
          .withColumn("rank_naive", row_number().over(
            Window.orderBy(col("n_shingles").desc, col("source"))))
          .crossJoin(broadcast(su))
          .select(col("source"), col("n_docs"), col("n_shingles"),
            col("n_exclusive"), col("shapley_micro"),
            expr("shapley_micro * 1000000 div sum_credit_micro")
              .as("shapley_share_ppm"),
            col("rank_shapley").cast("long").as("rank_shapley"),
            col("rank_naive").cast("long").as("rank_naive"),
            col("total_shingles"), col("trunc_deficit_micro"))
          .orderBy(col("rank_shapley"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT source,
                 string_split_regex(trim(text), '\s+') AS w
          FROM documents),
        st AS (
          SELECT DISTINCT source,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
          FROM t, UNNEST(range(1, GREATEST(len(w) - 1, 1))) u(i)),
        own AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS k
                FROM st GROUP BY 1),
        per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                 CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exclusive,
                 CAST(SUM(1000000 // k) AS BIGINT) AS shapley_micro
          FROM st JOIN own USING (sh) GROUP BY 1),
        nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY 1),
        su AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM own)
                   AS total_shingles,
                 (SELECT CAST(SUM(shapley_micro) AS BIGINT) FROM per)
                   AS sum_credit_micro),
        rk AS (
          SELECT per.*, nd.n_docs,
                 CAST(ROW_NUMBER() OVER (ORDER BY shapley_micro DESC,
                   source) AS BIGINT) AS rank_shapley,
                 CAST(ROW_NUMBER() OVER (ORDER BY n_shingles DESC,
                   source) AS BIGINT) AS rank_naive
          FROM per JOIN nd USING (source))
        SELECT source, n_docs, n_shingles, n_exclusive, shapley_micro,
               shapley_micro * 1000000 // su.sum_credit_micro
                 AS shapley_share_ppm,
               rank_shapley, rank_naive, su.total_shingles,
               su.total_shingles * 1000000 - su.sum_credit_micro
                 AS trunc_deficit_micro
        FROM rk CROSS JOIN su
        ORDER BY rank_shapley""")),

    // ---- q334: boilerplate-removal transform + self-certificate ----
    // The dedup family DETECTS boilerplate (q315 measures how shared
    // banners corrupt head-fingerprint clustering); nothing yet
    // REMOVES it — the trafilatura-class cleaning transform every
    // crawl pipeline runs before dedup/training. Planted corpus (this
    // gate owns its planting): docs ≡0 (mod 11) get the 8-token banner
    // prepended. Cleaner: df of the head-8-token fingerprint across
    // the corpus; heads with df ≥ 20 are boilerplate → strip the first
    // 8 tokens. The card certifies the TRANSFORM, not just the
    // detection: planted-banner recall (every planted doc stripped),
    // false-strip count (legitimately repeated heads caught in the
    // net), residual high-df heads AFTER cleaning (the fixpoint
    // check), and an untouched-docs checksum identity — Σ of 48-bit
    // md5 of the cleaned text over non-stripped docs must equal the
    // same sum over their originals, so the cleaner provably did not
    // touch what it did not claim to strip.
    //
    // 100 TB posture: two head-keyed df aggs (before/after) + one
    // checksum agg — the same shuffles an exact-dedup pass pays; the
    // strip itself is an in-row slice, no UDF. Measured sf0.1: all 443
    // planted banners stripped (recall 1.000000), zero false strips,
    // zero residual high-df heads, untouched checksum identity holds.
    "q334_boilerplate_removal" -> QueryDef(
      build = (spark, dir) => {
        val boiler = "subscribe to our newsletter for the latest updates"
        val t = Tables.documents(spark, dir)
          .select(col("doc_id"), split(trim(col("text")), " ").as("toks0"))
          .filter(size(col("toks0")) >= 12)
          .select(col("doc_id"),
            expr("CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END " +
              "AS BIGINT)").as("planted"),
            when(col("doc_id") % 11 === 0,
              concat(split(lit(boiler), " "), col("toks0")))
              .otherwise(col("toks0")).as("toks"))
          .localCheckpoint(false)
        val withHead = t.withColumn("head",
          md5(concat_ws(" ", slice(col("toks"), 1, 8))))
        val df = withHead.groupBy(col("head"))
          .agg(count(lit(1)).as("df"))
        val cleaned = withHead
          .join(df, Seq("head"))
          .select(col("doc_id"), col("planted"),
            expr("CAST(CASE WHEN df >= 20 THEN 1 ELSE 0 END AS BIGINT)")
              .as("stripped"),
            expr("CASE WHEN df >= 20 THEN slice(toks, 9, " +
              "size(toks) - 8) ELSE toks END").as("ctoks"),
            col("toks"))
          .localCheckpoint(false)
        val resid = cleaned
          .select(md5(concat_ws(" ", slice(col("ctoks"), 1, 8)))
            .as("chead"))
          .groupBy(col("chead")).agg(count(lit(1)).as("cdf"))
          .agg(sum(when(col("cdf") >= 20, 1L).otherwise(0L))
            .as("residual_high_df_heads"))
        // Each term is a 48-bit md5 prefix; the SUM is carried in
        // DECIMAL(38,0) (HUGEINT on the DuckDB side) so the identity
        // check stays exact at ANY corpus size — a BIGINT accumulator
        // would wrap silently in Spark and error in DuckDB beyond a few
        // 10^4 untouched docs (round-11 ADVICE). Only the equality flag
        // leaves the query, so the wide type never reaches the output.
        def cks(c: String) =
          expr(s"CAST(conv(substring(md5(concat_ws(' ', $c)), 1, 12)," +
            " 16, 10) AS DECIMAL(38,0))")
        val card = cleaned.agg(
          count(lit(1)).as("n_docs"),
          sum(col("planted")).as("n_planted"),
          sum(col("stripped")).as("n_stripped"),
          sum(col("planted") * col("stripped")).as("n_stripped_planted"),
          sum(expr("stripped * (1 - planted)")).as("n_false_strips"),
          sum(when(col("stripped") === 0L, cks("ctoks")).otherwise(0L))
            .as("untouched_cks_clean"),
          sum(when(col("stripped") === 0L, cks("toks")).otherwise(0L))
            .as("untouched_cks_orig"))
        card.crossJoin(broadcast(resid))
          .select(col("n_docs"), col("n_planted"), col("n_stripped"),
            col("n_stripped_planted"), col("n_false_strips"),
            expr("n_stripped_planted * 1000000L div " +
              "GREATEST(n_planted, 1L)").as("banner_recall_ppm"),
            col("residual_high_df_heads"),
            expr("CAST(CASE WHEN untouched_cks_clean = " +
              "untouched_cks_orig THEN 1 ELSE 0 END AS BIGINT)")
              .as("untouched_identity"))
      },
      oracle = Some("""
        WITH t0 AS (SELECT doc_id, string_split(trim(text), ' ')
                      AS toks0
                    FROM documents),
        t AS MATERIALIZED (
          SELECT doc_id,
                 CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END
                   AS BIGINT) AS planted,
                 CASE WHEN doc_id % 11 = 0
                   THEN list_concat(string_split(
                     'subscribe to our newsletter for the latest updates',
                     ' '), toks0)
                   ELSE toks0 END AS toks
          FROM t0 WHERE len(toks0) >= 12),
        wh AS (SELECT doc_id, planted, toks,
                      md5(array_to_string(list_slice(toks, 1, 8), ' '))
                        AS head
               FROM t),
        dfh AS (SELECT head, CAST(COUNT(*) AS BIGINT) AS df
                FROM wh GROUP BY 1),
        cleaned AS MATERIALIZED (
          SELECT w.doc_id, w.planted,
                 CAST(CASE WHEN d.df >= 20 THEN 1 ELSE 0 END AS BIGINT)
                   AS stripped,
                 CASE WHEN d.df >= 20
                   THEN list_slice(w.toks, 9, len(w.toks))
                   ELSE w.toks END AS ctoks,
                 w.toks
          FROM wh w JOIN dfh d USING (head)),
        resid AS (
          SELECT CAST(SUM(CASE WHEN cdf >= 20 THEN 1 ELSE 0 END)
            AS BIGINT) AS residual_high_df_heads
          FROM (SELECT md5(array_to_string(list_slice(ctoks, 1, 8),
                  ' ')) AS chead, COUNT(*) AS cdf
                FROM cleaned GROUP BY 1)),
        card AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(planted) AS BIGINT) AS n_planted,
                 CAST(SUM(stripped) AS BIGINT) AS n_stripped,
                 CAST(SUM(planted * stripped) AS BIGINT)
                   AS n_stripped_planted,
                 CAST(SUM(stripped * (1 - planted)) AS BIGINT)
                   AS n_false_strips,
                 SUM(CASE WHEN stripped = 0 THEN
                   ('0x' || substr(md5(array_to_string(ctoks, ' ')),
                     1, 12))::BIGINT ELSE 0 END)
                   AS untouched_cks_clean,
                 SUM(CASE WHEN stripped = 0 THEN
                   ('0x' || substr(md5(array_to_string(toks, ' ')),
                     1, 12))::BIGINT ELSE 0 END)
                   AS untouched_cks_orig
          FROM cleaned)
        SELECT c.n_docs, c.n_planted, c.n_stripped,
               c.n_stripped_planted, c.n_false_strips,
               c.n_stripped_planted * 1000000
                 // GREATEST(c.n_planted, 1) AS banner_recall_ppm,
               r.residual_high_df_heads,
               CAST(CASE WHEN c.untouched_cks_clean =
                 c.untouched_cks_orig THEN 1 ELSE 0 END AS BIGINT)
                 AS untouched_identity
        FROM card c CROSS JOIN resid r""")),

    // ---- q341: Luhn-validated PII detection ----
    // The CHECKSUM-gated upgrade of q64's regex scrub: a 16-digit
    // string is only a payment-card number if it passes the Luhn mod-10
    // check, and a scrubber that masks every \d{16} (the q64 shape)
    // over-redacts — this gate measures that gap exactly. Deterministic
    // plant-then-detect (the q234/q334 pattern): every 10th doc gets a
    // 16-digit number appended — doc_id % 20 == 0 gets a VALID card
    // (check digit computed by the same Luhn arithmetic), the others a
    // BROKEN one (check + 5 mod 10, guaranteed wrong) — then detection
    // regex-extracts all 16-digit candidates and validates each. The
    // Luhn digit arithmetic is generated by ONE Scala helper
    // ([[luhnSumSql]]) embedded verbatim in the Spark expression AND
    // the DuckDB oracle text, so the two engines cannot drift on the
    // weights. Per-source card: candidates, Luhn-valid, Luhn-broken,
    // the naive scrubber's overcount (= broken — what regex-only
    // masking would falsely redact), and the valid-equals-planted
    // certificate.
    //
    // 100 TB posture: plant + extract + validate are per-row codegen'd
    // expressions (zero shuffle until the source rollup); validation
    // is 16 substring-int ops per candidate, no UDF.
    "q341_luhn_pii" -> QueryDef(
      build = (spark, dir) => {
        val card15 = "lpad(CAST((doc_id * 7919 + 123457) %" +
          " 1000000000000000 AS STRING), 15, '0')"
        val check = s"(10 - (${luhnSumSql(card15, 15)}) % 10) % 10"
        val planted = "CASE WHEN doc_id % 10 != 0 THEN text " +
          s"WHEN doc_id % 20 = 0 THEN concat(text, ' ', $card15, " +
          s"CAST($check AS STRING)) " +
          s"ELSE concat(text, ' ', $card15, " +
          s"CAST(($check + 5) % 10 AS STRING)) END"
        val cands = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            expr(s"regexp_extract_all($planted, '\\\\d{16}', 0)")
              .as("cands"))
        cands
          .select(col("doc_id"), col("source"), explode_outer(col("cands")).as("c"))
          .withColumn("ok", when(col("c").isNull, lit(null))
            .otherwise(expr(s"CAST((${luhnSumSql("c", 16)}) % 10 = 0" +
              " AS BOOLEAN)")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("c")).as("n_cand"),
            sum(when(col("ok") === true, 1L).otherwise(0L)).as("n_valid"),
            sum(when(col("ok") === false, 1L).otherwise(0L)).as("n_broken"),
            sum(when(col("doc_id") % 20 === 0, 1L).otherwise(0L))
              .as("n_planted_valid"))
          .select(col("source"), col("n_rows"), col("n_cand"),
            col("n_valid"), col("n_broken"),
            col("n_broken").as("naive_overcount"),
            expr("CAST(CASE WHEN n_valid = n_planted_valid" +
              " THEN 1 ELSE 0 END AS BIGINT)").as("valid_eq_planted"))
          .orderBy(col("source"))
      },
      oracle = Some {
        val card15 = "lpad(CAST((doc_id * 7919 + 123457) %" +
          " 1000000000000000 AS VARCHAR), 15, '0')"
        val check = s"(10 - (${luhnSumSql(card15, 15)}) % 10) % 10"
        s"""
        WITH planted AS MATERIALIZED (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 10 != 0 THEN text
                      WHEN doc_id % 20 = 0 THEN concat(text, ' ',
                        $card15, CAST($check AS VARCHAR))
                      ELSE concat(text, ' ', $card15,
                        CAST(($check + 5) % 10 AS VARCHAR)) END AS t2
          FROM documents),
        ex AS MATERIALIZED (
          SELECT doc_id, source,
                 unnest(list_concat(
                   regexp_extract_all(t2, '\\d{16}'), [NULL])) AS c
          FROM planted),
        -- list_concat(..., [NULL]) + the rn filter replays Spark's
        -- explode_outer (docs with no candidate keep one NULL row;
        -- docs with candidates drop the padding NULL)
        keep AS (SELECT doc_id, source, c,
                        COUNT(*) OVER (PARTITION BY doc_id) AS nr
                 FROM ex),
        rows2 AS (SELECT doc_id, source, c FROM keep
                  WHERE c IS NOT NULL OR nr = 1),
        v AS (SELECT doc_id, source, c,
                     CASE WHEN c IS NULL THEN NULL
                          WHEN (${luhnSumSql("c", 16)}) % 10 = 0
                          THEN TRUE ELSE FALSE END AS ok
              FROM rows2)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(c) AS BIGINT) AS n_cand,
               CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_valid,
               CAST(SUM(CASE WHEN ok = FALSE THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_broken,
               CAST(SUM(CASE WHEN ok = FALSE THEN 1 ELSE 0 END)
                 AS BIGINT) AS naive_overcount,
               CAST(CASE WHEN SUM(CASE WHEN ok THEN 1 ELSE 0 END) =
                 SUM(CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END)
                 THEN 1 ELSE 0 END AS BIGINT) AS valid_eq_planted
        FROM v GROUP BY source ORDER BY source"""
      }),

    // ---- q363: PII redaction transform + conservation certificate ----
    // (round 15) q341 DETECTS card-number PII; this gate performs the
    // REDACTION a corpus actually ships to training — the q334
    // transform-certificate pattern applied to PII scrubbing. Planted
    // PII (q341's 16-digit cards — valid AND broken, because a scrubber
    // over-redacts by design: a candidate that fails Luhn is still not
    // trainable text — plus deterministic e-mail addresses on every
    // 9th doc) is rewritten to fixed placeholders in two sequential
    // passes (cards first, then e-mails over the card-redacted text,
    // and the censuses mirror that order exactly). The card certifies
    // the TRANSFORM, not just the counts:
    //   - conservation: per-doc final length equals planted length
    //     − 10·n_card − Σ e-mail chars + 7·n_email, aggregated as a
    //     min-flag so ONE violating doc anywhere flips the output;
    //   - fixpoint: zero residual matches of either pattern after the
    //     pass;
    //   - untouched identity: the 48-bit md5-prefix checksum of docs
    //     with no PII is bit-identical before and after (the q334
    //     DECIMAL(38,0)/HUGEINT accumulator discipline).
    // Both regexes are RE2-and-Java-identical character classes (no
    // lookaround), so Spark and DuckDB match the same spans.
    //
    // 100 TB posture: the whole transform and every census is in-row
    // (one projection over the corpus scan — regexp_replace +
    // regexp_extract_all are codegen'd); the only shuffle is the
    // |sources|-cardinality rollup. Payload text never shuffles.
    "q363_pii_redaction" -> QueryDef(
      build = (spark, dir) => {
        val card15 = "lpad(CAST((doc_id * 7919 + 123457) %" +
          " 1000000000000000 AS STRING), 15, '0')"
        val check = s"(10 - (${luhnSumSql(card15, 15)}) % 10) % 10"
        val base = "CASE WHEN doc_id % 10 != 0 THEN text " +
          s"WHEN doc_id % 20 = 0 THEN concat(text, ' ', $card15, " +
          s"CAST($check AS STRING)) " +
          s"ELSE concat(text, ' ', $card15, " +
          s"CAST(($check + 5) % 10 AS STRING)) END"
        val emailRe = "[a-z0-9]+@[a-z0-9]+\\\\.[a-z]+"
        val staged = Tables.documents(spark, dir)
          .withColumn("planted", expr(s"CASE WHEN doc_id % 9 = 3" +
            s" THEN concat($base, ' user', CAST(doc_id AS STRING)," +
            s" '@example.com') ELSE $base END"))
          .withColumn("t1",
            expr("regexp_replace(planted, '\\\\d{16}', '<CARD>')"))
          .withColumn("t2",
            expr(s"regexp_replace(t1, '$emailRe', '<EMAIL>')"))
          .withColumn("n_card",
            expr("CAST(size(regexp_extract_all(planted, '\\\\d{16}', 0))" +
              " AS BIGINT)"))
          .withColumn("emails",
            expr(s"regexp_extract_all(t1, '$emailRe', 0)"))
          .withColumn("n_email", expr("CAST(size(emails) AS BIGINT)"))
          .withColumn("email_chars",
            expr("aggregate(emails, CAST(0 AS BIGINT)," +
              " (a, x) -> a + length(x))"))
          .withColumn("residual",
            expr("CAST(size(regexp_extract_all(t2, '\\\\d{16}', 0))" +
              s" AS BIGINT) + CAST(size(regexp_extract_all(t2," +
              s" '$emailRe', 0)) AS BIGINT)"))
          .withColumn("cons_ok",
            when(expr("CAST(length(t2) AS BIGINT) =" +
              " CAST(length(planted) AS BIGINT) - 10 * n_card" +
              " - email_chars + 7 * n_email"), 1L).otherwise(0L))
          .withColumn("untouched",
            when(col("n_card") === 0L && col("n_email") === 0L, 1L)
              .otherwise(0L))
        def cks(c: String) =
          expr(s"CAST(conv(substring(md5($c), 1, 12), 16, 10)" +
            " AS DECIMAL(38,0))")
        staged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_card")).as("n_card_redactions"),
            sum(col("n_email")).as("n_email_redactions"),
            sum(expr("CAST(length(planted) - length(t2) AS BIGINT)"))
              .as("chars_removed"),
            min(col("cons_ok")).as("conservation_ok"),
            sum(col("residual")).as("residual_matches"),
            sum(col("untouched")).as("n_untouched"),
            sum(when(col("untouched") === 1L, cks("planted"))
              .otherwise(0L)).as("cks_orig"),
            sum(when(col("untouched") === 1L, cks("t2"))
              .otherwise(0L)).as("cks_final"))
          .select(col("source"), col("n_docs"),
            col("n_card_redactions"), col("n_email_redactions"),
            col("chars_removed"), col("conservation_ok"),
            col("residual_matches"), col("n_untouched"),
            when(col("cks_orig") === col("cks_final"), 1L).otherwise(0L)
              .as("untouched_identity"))
          .orderBy(col("source"))
      },
      oracle = Some {
        val card15 = "lpad(CAST((doc_id * 7919 + 123457) %" +
          " 1000000000000000 AS VARCHAR), 15, '0')"
        val check = s"(10 - (${luhnSumSql(card15, 15)}) % 10) % 10"
        val base = "CASE WHEN doc_id % 10 != 0 THEN text " +
          s"WHEN doc_id % 20 = 0 THEN concat(text, ' ', $card15, " +
          s"CAST($check AS VARCHAR)) " +
          s"ELSE concat(text, ' ', $card15, " +
          s"CAST(($check + 5) % 10 AS VARCHAR)) END"
        val emailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
        s"""
        WITH planted AS MATERIALIZED (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 9 = 3
                   THEN concat($base, ' user', CAST(doc_id AS VARCHAR),
                     '@example.com')
                   ELSE $base END AS planted
          FROM documents),
        tr AS MATERIALIZED (
          SELECT doc_id, source, planted,
                 regexp_replace(planted, '\\d{16}', '<CARD>', 'g') AS t1
          FROM planted),
        tr2 AS MATERIALIZED (
          SELECT doc_id, source, planted, t1,
                 regexp_replace(t1, '$emailRe', '<EMAIL>', 'g') AS t2,
                 CAST(len(regexp_extract_all(planted, '\\d{16}'))
                   AS BIGINT) AS n_card,
                 regexp_extract_all(t1, '$emailRe') AS emails
          FROM tr),
        m AS (SELECT doc_id, source, planted, t2, n_card,
                     CAST(len(emails) AS BIGINT) AS n_email,
                     CAST(COALESCE(list_sum(list_transform(emails,
                       x -> length(x))), 0) AS BIGINT) AS email_chars,
                     CAST(len(regexp_extract_all(t2, '\\d{16}'))
                       + len(regexp_extract_all(t2, '$emailRe'))
                       AS BIGINT) AS residual
              FROM tr2),
        f AS (SELECT source, planted, t2, n_card, n_email,
                     email_chars, residual,
                     CASE WHEN CAST(length(t2) AS BIGINT) =
                       CAST(length(planted) AS BIGINT) - 10 * n_card
                       - email_chars + 7 * n_email
                       THEN 1 ELSE 0 END AS cons_ok,
                     CASE WHEN n_card = 0 AND n_email = 0
                       THEN 1 ELSE 0 END AS untouched
              FROM m)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_card) AS BIGINT) AS n_card_redactions,
               CAST(SUM(n_email) AS BIGINT) AS n_email_redactions,
               CAST(SUM(length(planted) - length(t2)) AS BIGINT)
                 AS chars_removed,
               CAST(MIN(cons_ok) AS BIGINT) AS conservation_ok,
               CAST(SUM(residual) AS BIGINT) AS residual_matches,
               CAST(SUM(untouched) AS BIGINT) AS n_untouched,
               CAST(CASE WHEN
                 SUM(CASE WHEN untouched = 1 THEN
                   ('0x' || substr(md5(planted), 1, 12))::BIGINT
                   ELSE 0 END) =
                 SUM(CASE WHEN untouched = 1 THEN
                   ('0x' || substr(md5(t2), 1, 12))::BIGINT
                   ELSE 0 END)
                 THEN 1 ELSE 0 END AS BIGINT) AS untouched_identity
        FROM f GROUP BY source ORDER BY source"""
      })
  )

  /** q341's Luhn mod-10 digit sum over a fixed-length digit string
    * expression: 1-based odd positions doubled (digits > 9 reduced by
    * 9), which is the payment-card weighting for BOTH the 15-digit
    * prefix (computing a check digit to be appended at position 16)
    * and the full 16-digit validation. Emitted as engine-neutral SQL
    * (substring/CAST/CASE only) and embedded verbatim in the Spark
    * expression and the DuckDB oracle, so the weights cannot drift
    * between engines. */
  private def luhnSumSql(s: String, len: Int): String =
    (1 to len).map { i =>
      val d = s"CAST(substring($s, $i, 1) AS INT)"
      if (i % 2 == 1)
        s"(CASE WHEN $d >= 5 THEN $d * 2 - 9 ELSE $d * 2 END)"
      else d
    }.mkString("(", " + ", ")")
}
