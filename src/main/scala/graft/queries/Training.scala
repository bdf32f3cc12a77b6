package graft.queries

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data assembly operators: the steps between a curated corpus
  * and a tokenizer feed — repetition-based quality gates, incremental
  * dedup of a new batch against an existing corpus, domain-mixture
  * resampling toward target weights, TF-IDF term scoring, and sequence
  * packing into fixed-token-budget training rows (q87).
  *
  * Scale notes (100 TB posture): q83/q86 are explode → hash-partition
  * aggregation keyed on (doc_id[, term]) — high-cardinality keys, so the
  * shuffle spreads evenly and partial aggregation keeps the wire volume
  * at |distinct keys|, not |tokens|; q84's anti-join is fronted by a
  * bloom filter on the corpus key set ([[graft.operators.BloomFront]] —
  * the join stays the authority); q85 is a broadcast of a constant-size
  * weights table plus one per-stratum window.
  */
object Training {

  /** Engine-portable pick key (see [[Curation]]): md5 is identical in
    * Spark and DuckDB, xxhash64 is not. */
  import Curation.{pickKey, SqlPickKey}

  /** Greedy contiguous packing into 2048-token sequences, per shard: over
    * (doc_id, n_tokens, pick, shard), each doc goes to pack
    * floor(tokens before it in (pick, doc_id) order / 2048); returns the
    * per-(shard, pack_id) report of q87 and q100. */
  private[queries] def packStats(d: DataFrame): DataFrame = {
    val capacity = 2048L
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("pick"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id",
        floor(col("cum").cast("double") / lit(capacity.toDouble)))
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .withColumn("fill_frac",
        round(col("total_tokens").cast("double") / lit(capacity.toDouble), 6))
      .select(col("shard"), col("pack_id"), col("n_docs"),
        col("total_tokens"), col("fill_frac"), col("min_doc"), col("max_doc"))
      .orderBy(col("shard"), col("pack_id"))
  }

  /** DuckDB mirror of [[packStats]] over the CTE `src` (doc_id,
    * n_tokens, pick, shard): the `c` and `p` CTEs and the report. */
  private[queries] def sqlPack(src: String): String =
    s"""c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                ORDER BY pick, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              FROM $src),
        p AS (SELECT *, CAST(FLOOR(CAST(cum AS DOUBLE) / 2048) AS BIGINT)
                          AS pack_id
              FROM c)
        SELECT shard, pack_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 2048, 6) AS fill_frac,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM p GROUP BY shard, pack_id ORDER BY shard, pack_id"""

  /** The bigram-LM scoring tail of q112 and q178: per document, the mean
    * `model` NLL over its bigrams `bg`; the 20 least likely documents. */
  private val NllTopTail: String = """s AS (SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                     CAST(SUM(CAST(m.nll AS DECIMAL(28,9))) AS DOUBLE) AS sum_nll
              FROM bg JOIN model m ON m.gram = bg.gram
              GROUP BY bg.doc_id)
        SELECT doc_id, n_bigrams,
               ROUND(sum_nll / n_bigrams, 6) AS mean_nll
        FROM s ORDER BY mean_nll DESC, doc_id ASC LIMIT 20"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q83: repetition statistics (Gopher-style quality rule) ----
    // Per document: duplicate-token fraction and the fraction of bigram
    // slots occupied by the single most frequent word bigram — the
    // "excessive repetition" signals used to drop boilerplate/spam before
    // training. Tie on bigram count breaks to the lexicographically
    // smallest gram, so the winner is engine-portable. Docs with <2
    // tokens have no bigram and are (explicitly) out of scope.
    "q83_repetition_stats" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
            col("toks"))
        // Adjacent-pair bigrams, map-side: zip toks with itself shifted by
        // one (slice is 1-based), explode, count per (doc, gram).
        val grams = d.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            slice(col("toks"), lit(1), size(col("toks")) - 1).as("h"),
            slice(col("toks"), lit(2), size(col("toks")) - 1).as("t"))
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            explode(arrays_zip(col("h"), col("t"))).as("z"))
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            concat_ws(" ", col("z.h"), col("z.t")).as("gram"))
          .groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("cnt").desc, col("gram"))
        grams.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6)
              .as("dup_token_frac"),
            col("gram").as("top_bigram"),
            col("cnt").as("top_bigram_n"),
            round(col("cnt").cast("double") / (col("n_tokens") - 1), 6)
              .as("top_bigram_frac"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        n AS (SELECT doc_id, len(toks) AS n_tokens,
                     len(list_distinct(toks)) AS n_distinct, toks
              FROM t WHERE len(toks) >= 2),
        bi AS (SELECT doc_id, n_tokens, n_distinct, toks,
                      unnest(range(1, len(toks))) AS i
               FROM n),
        b AS (SELECT doc_id, n_tokens, n_distinct,
                     toks[i] || ' ' || toks[i + 1] AS gram
              FROM bi),
        g AS (SELECT doc_id, n_tokens, n_distinct, gram, COUNT(*) AS cnt
              FROM b GROUP BY ALL),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY cnt DESC, gram) AS rn FROM g)
        SELECT doc_id, n_tokens, n_distinct,
               ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
               gram AS top_bigram, cnt AS top_bigram_n,
               ROUND(CAST(cnt AS DOUBLE) / (n_tokens - 1), 6) AS top_bigram_frac
        FROM r WHERE rn = 1 ORDER BY doc_id""")),

    // ---- q84: incremental dedup of a new batch against the corpus ----
    // The production shape of exact dedup: a new batch arrives (here:
    // doc_id % 10 < 3), is deduped within itself (keep min doc_id per
    // content hash), then anti-joined against the existing corpus's
    // content-hash set via [[graft.operators.BloomFront]]: a bloom filter
    // over the corpus sigs is probed map-side so only possible members
    // (true dups + the fpp share) reach the shuffle anti-join, which
    // remains the exactness authority. Reports the attrition per language
    // so the ingest is auditable.
    "q84_incremental_dedup" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            md5(col("text").cast("binary")).as("sig"),
            (col("doc_id") % 10 < 3).as("is_incoming"))
        val incoming = d.filter(col("is_incoming"))
        val corpus = d.filter(!col("is_incoming")).select(col("sig")).distinct()
        val batchUnique = incoming
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("sig")).orderBy(col("doc_id"))))
          .filter(col("rn") === 1)
        val kept = graft.operators.BloomFront.antiJoin(batchUnique, corpus, "sig")
        incoming.groupBy(col("lang")).agg(count(lit(1)).as("n_incoming"))
          .join(batchUnique.groupBy(col("lang")).agg(count(lit(1)).as("n_batch_unique")),
            Seq("lang"), "left")
          .join(kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"),
              sum(col("n_chars")).as("chars_kept")),
            Seq("lang"), "left")
          .select(col("lang"), col("n_incoming"),
            coalesce(col("n_batch_unique"), lit(0L)).as("n_batch_unique"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
          .orderBy(col("lang"))
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, lang, n_chars, md5(text) AS sig,
                          doc_id % 10 < 3 AS is_incoming
                   FROM documents),
        inc AS (SELECT * FROM d WHERE is_incoming),
        corpus AS (SELECT DISTINCT sig FROM d WHERE NOT is_incoming),
        bu AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY sig
                 ORDER BY doc_id) AS rn FROM inc) WHERE rn = 1),
        -- NOT EXISTS, not NOT IN: NOT IN yields no rows if any sig were
        -- NULL, while Spark's left_anti keeps non-matching rows.
        kept AS (SELECT * FROM bu WHERE NOT EXISTS
                   (SELECT 1 FROM corpus c WHERE c.sig = bu.sig)),
        a AS (SELECT lang, COUNT(*) AS n_incoming FROM inc GROUP BY lang),
        b AS (SELECT lang, COUNT(*) AS n_batch_unique FROM bu GROUP BY lang),
        c AS (SELECT lang, COUNT(*) AS n_kept,
                     CAST(SUM(n_chars) AS BIGINT) AS chars_kept
              FROM kept GROUP BY lang)
        SELECT a.lang, a.n_incoming,
               COALESCE(b.n_batch_unique, 0) AS n_batch_unique,
               COALESCE(c.n_kept, 0) AS n_kept,
               COALESCE(c.chars_kept, 0) AS chars_kept
        FROM a LEFT JOIN b USING (lang) LEFT JOIN c USING (lang)
        ORDER BY lang""")),

    // ---- q85: domain-mixture resampling toward target weights ----
    // Given target mixture weights per language and a total document
    // budget, take floor(weight * budget) documents per language (capped
    // by availability), picked by the deterministic md5 key. Weights are
    // exact decimals so floor(w * budget) is engine-portable (no double
    // rounding at the floor boundary).
    "q85_mixture_resample" -> QueryDef(
      build = (spark, dir) => {
        import spark.implicits._
        val budget = 200L
        val weights = Seq(("en", "0.50"), ("de", "0.20"), ("es", "0.15"),
            ("fr", "0.10"), ("zh", "0.05"))
          .toDF("lang", "w")
          .select(col("lang"),
            floor(col("w").cast(DecimalType(6, 3)) * budget).cast("long").as("n_target"))
        val d = Tables.documents(spark, dir)
          .select(col("lang"), col("doc_id"), col("n_chars"), pickKey.as("pick_key"))
        val ranked = d.withColumn("rn", row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("pick_key"), col("doc_id"))))
          .join(broadcast(weights), Seq("lang"))
        val picked = ranked.filter(col("rn") <= col("n_target"))
        val avail = d.groupBy(col("lang")).agg(count(lit(1)).as("n_avail"))
        picked.groupBy(col("lang"), col("n_target"))
          .agg(count(lit(1)).as("n_picked"), sum(col("n_chars")).as("chars_picked"))
          .join(avail, Seq("lang"))
          .select(col("lang"), col("n_target"), col("n_avail"), col("n_picked"),
            col("chars_picked"))
          .orderBy(col("lang"))
      },
      oracle = Some(s"""
        WITH w AS (SELECT * FROM (VALUES
            ('en', CAST(0.50 AS DECIMAL(6,3))), ('de', CAST(0.20 AS DECIMAL(6,3))),
            ('es', CAST(0.15 AS DECIMAL(6,3))), ('fr', CAST(0.10 AS DECIMAL(6,3))),
            ('zh', CAST(0.05 AS DECIMAL(6,3)))) AS t(lang, w)),
        tgt AS (SELECT lang, CAST(FLOOR(w * 200) AS BIGINT) AS n_target FROM w),
        r AS (SELECT lang, doc_id, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY $SqlPickKey, doc_id) AS rn
              FROM documents),
        picked AS (SELECT r.* , tgt.n_target
                   FROM r JOIN tgt USING (lang) WHERE rn <= n_target),
        avail AS (SELECT lang, COUNT(*) AS n_avail FROM documents GROUP BY lang)
        SELECT p.lang, p.n_target, a.n_avail, COUNT(*) AS n_picked,
               CAST(SUM(p.n_chars) AS BIGINT) AS chars_picked
        FROM picked p JOIN avail a USING (lang)
        GROUP BY p.lang, p.n_target, a.n_avail
        ORDER BY lang""")),

    // ---- q86: TF-IDF top terms per document ----
    // Corpus-wide document frequency, per-document term frequency,
    // score = tf * ln(N / df), top 3 terms for the first 10 documents.
    // The ROUNDED score is both the output and the ranking key (with a
    // full (score DESC, term) tie-break), so a sub-ulp libm difference
    // between engines cannot flip the selection.
    "q86_tfidf_topk" -> QueryDef(
      build = (spark, dir) => {
        val tf = Tables.documents(spark, dir)
          .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
        val scored = tf.filter(col("doc_id") < 10)
          .join(df, Seq("term"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
              .as("tfidf"))
        scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("tfidf").desc, col("term"))))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn").cast("long").as("rn"), col("term"),
            col("tf"), col("df"), col("tfidf"))
          .orderBy(col("doc_id"), col("rn"))
      },
      oracle = Some("""
        WITH tf AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
                    FROM documents),
        tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY ALL),
        dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (SELECT t.doc_id, t.term, t.tf, d.df,
                          ROUND(t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
                   FROM tfc t JOIN dfc d USING (term), n
                   WHERE t.doc_id < 10),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS rn FROM scored)
        SELECT doc_id, rn, term, tf, df, tfidf
        FROM r WHERE rn <= 3 ORDER BY doc_id, rn""")),

    // ---- q87: sequence packing for the tokenizer feed ----
    // Pack documents into fixed-token-budget training sequences (capacity
    // 2048): docs are hash-sharded (ascii of the md5 pick key's first hex
    // char — engine-portable), ordered within their shard by the pick key
    // (a reproducible shuffle), and assigned to pack
    // floor(exclusive_running_tokens / capacity) — greedy contiguous
    // packing where the doc straddling a boundary stays in the pack it
    // started in (bounded overflow: one doc's tokens past capacity).
    //
    // 100 TB posture: the window partitions by shard, so packing is
    // embarrassingly parallel with NO global sort — shard count scales
    // with the cluster (4 here for test visibility; thousands in prod)
    // and (shard, pack_id) is globally unique. Pack assignment is a pure
    // function of content, independent of input partitioning — the same
    // reproducibility contract as operators.Sampling (TrainingSpec
    // asserts invariance under repartition).
    "q87_sequence_packing" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"),
            size(split(trim(col("text")), " ")).cast("long").as("n_tokens"),
            pickKey.as("pick"))
          .withColumn("shard", (ascii(substring(col("pick"), 1, 1)) % 4).cast("long"))
        packStats(d)
      },
      oracle = Some(s"""
        WITH d AS (SELECT doc_id,
                          CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                            AS n_tokens,
                          $SqlPickKey AS pick
                   FROM documents),
        s AS (SELECT doc_id, n_tokens, pick,
                     CAST(ascii(substring(pick, 1, 1)) % 4 AS BIGINT) AS shard
              FROM d),
        ${sqlPack("s")}""")),

    // ---- q88: unigram LM quality scoring (CCNet-style) ----
    // Score every document by the mean negative log-likelihood of its
    // tokens under the corpus's own unigram distribution — the classic
    // perplexity-bucket signal used to sort web text into quality tiers
    // before training. MLE probabilities (the scored corpus IS the LM
    // corpus, so no OOV); per-token nll is rounded to 9 decimals and
    // accumulated as decimal so the per-doc mean is independent of
    // partitioning and summation order (and of sub-ulp libm differences
    // between engines).
    //
    // 100 TB posture: the unigram table is vocabulary-sized (≪ corpus) —
    // the token→count join is a high-cardinality keyed equijoin (or a
    // broadcast when the vocab fits), and the per-doc mean is a partial
    // aggregation keyed on doc_id; nothing here is quadratic and no stage
    // sees more than |tokens| rows.
    "q88_unigram_logprob" -> QueryDef(
      build = (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            explode(split(trim(col("text")), " ")).as("term"))
        val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tc"))
        // Corpus size from the term frequencies (Σ tc ≡ |tokens|) — no
        // third scan+tokenize of documents.
        val n = tf.agg(sum(col("tc")).as("n_corpus"))
        toks.join(tf, Seq("term"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("lang"),
            round(log(col("n_corpus").cast("double") / col("tc")), 9).as("nll"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("nll").cast(DecimalType(28, 9))).cast("double") /
              count(lit(1)), 6).as("avg_nll"))
          .withColumn("flagged", col("avg_nll") > lit(3.5d))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH tok AS (SELECT doc_id, lang,
                            unnest(string_split(trim(text), ' ')) AS term
                     FROM documents),
        tf AS (SELECT term, COUNT(*) AS tc FROM tok GROUP BY term),
        n AS (SELECT COUNT(*) AS n_corpus FROM tok),
        scored AS (SELECT t.doc_id, t.lang,
                          ROUND(LN(CAST(n.n_corpus AS DOUBLE) / f.tc), 9) AS nll
                   FROM tok t JOIN tf f USING (term), n)
        SELECT doc_id, lang, COUNT(*) AS n_tokens,
               ROUND(CAST(SUM(CAST(nll AS DECIMAL(28,9))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_nll,
               ROUND(CAST(SUM(CAST(nll AS DECIMAL(28,9))) AS DOUBLE)
                     / COUNT(*), 6) > CAST(3.5 AS DOUBLE) AS flagged
        FROM scored GROUP BY doc_id, lang ORDER BY doc_id""")),

    // ---- q92: importance-based data selection (DSIR-style) ----
    // Select the documents whose token distribution best matches a TARGET
    // distribution: per-term importance log-ratio ln(p_target/p_raw) with
    // add-1 smoothing (target = the English slice standing in for "the
    // distribution we want more of"; raw = the whole corpus), per-doc
    // score = mean log-ratio of its tokens, top 20 by (rounded score,
    // doc_id). Same determinism discipline as q88: per-term ratio rounded
    // to 9 decimals, decimal-accumulated, the rounded score is the rank
    // key. Smoothing constants are exact integers (< 2^53), so both
    // engines evaluate the identical IEEE expression tree.
    //
    // 100 TB posture: the log-ratio table is vocabulary-sized (≪ corpus),
    // built from two partial-aggregated term counts; scoring is the same
    // high-cardinality token→term equijoin + per-doc keyed agg as q88;
    // the final top-k is an aggregate-then-limit over |docs| rows, never
    // a global sort of tokens.
    "q92_importance_selection" -> QueryDef(
      build = (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            explode(split(trim(col("text")), " ")).as("term"))
        val raw = toks.groupBy(col("term")).agg(count(lit(1)).as("cr"))
        val tgt = toks.filter(col("lang") === "en")
          .groupBy(col("term")).agg(count(lit(1)).as("ct"))
        val stats = raw.agg(sum(col("cr")).as("nr"), count(lit(1)).as("v"))
          .crossJoin(tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("nt")))
        val lr = raw.join(tgt, Seq("term"), "left")
          .na.fill(0L, Seq("ct"))
          .crossJoin(broadcast(stats))
          .select(col("term"), round(log(
            ((col("ct") + 1).cast("double") / (col("nt") + col("v"))) /
              ((col("cr") + 1).cast("double") / (col("nr") + col("v")))), 9)
            .as("lr"))
        toks.join(lr, Seq("term"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("lr").cast(DecimalType(28, 9))).cast("double") /
              count(lit(1)), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("score"))
      },
      oracle = Some("""
        WITH tok AS (SELECT doc_id, lang,
                            unnest(string_split(trim(text), ' ')) AS term
                     FROM documents),
        raw AS (SELECT term, COUNT(*) AS cr FROM tok GROUP BY term),
        tgt AS (SELECT term, COUNT(*) AS ct FROM tok WHERE lang = 'en'
                GROUP BY term),
        st AS (SELECT (SELECT SUM(cr) FROM raw) AS nr,
                      (SELECT COUNT(*) FROM raw) AS v,
                      (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt),
        lr AS (SELECT r.term,
                      ROUND(LN((CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                                / (st.nt + st.v)) /
                               (CAST(r.cr + 1 AS DOUBLE)
                                / (st.nr + st.v))), 9) AS lr
               FROM raw r LEFT JOIN tgt t USING (term), st),
        scored AS (SELECT k.doc_id, k.lang, COUNT(*) AS n_tokens,
                          ROUND(CAST(SUM(CAST(l.lr AS DECIMAL(28,9)))
                                AS DOUBLE) / COUNT(*), 6) AS score
                   FROM tok k JOIN lr l USING (term)
                   GROUP BY k.doc_id, k.lang)
        SELECT doc_id, lang, n_tokens, score
        FROM scored ORDER BY score DESC, doc_id LIMIT 20""")),

    // ---- q101: temperature-scaled domain mixture ----
    // The standard multi-domain re-weighting (UnifiedQA/XLM-R style):
    // sampling weight w_i ∝ p_i^τ with τ = 0.7 flattens the raw token
    // share so small domains are up-sampled without drowning large ones;
    // alloc_tokens is each domain's share of a 1M-token budget. The pow
    // input is the UNROUNDED share (rounding first would change the
    // result); each pow is rounded to 9 dp and the normalizer is an
    // exact-decimal sum of those rounded values, so normalization is
    // independent of summation order in both engines.
    //
    // 100 TB posture: one corpus pass (per-source partial agg of token
    // counts); everything after is |sources|-sized on the driver-free
    // broadcast path — the weights table this feeds into a sampler (q85)
    // is constant-size by construction.
    "q101_mixture_temperature" -> QueryDef(
      build = (spark, dir) => {
        val s = Tables.documents(spark, dir)
          .select(col("source"),
            size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        val t = s.agg(sum(col("n_tokens")).as("total"))
        val p = s.crossJoin(broadcast(t))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(col("n_tokens").cast("double") / col("total"), 9)
              .as("raw_share"),
            round(pow(col("n_tokens").cast("double") / col("total"), lit(0.7)),
              9).as("pw"))
        val z = p.agg(sum(col("pw").cast(DecimalType(28, 9))).cast("double")
          .as("zsum"))
        p.crossJoin(broadcast(z))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("raw_share"),
            round(col("pw") / col("zsum"), 6).as("temp_weight"),
            round(col("pw") / col("zsum") * lit(1000000), 0).cast("long")
              .as("alloc_tokens"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH tok AS (SELECT source,
                            CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                              AS n_tokens
                     FROM documents),
        s AS (SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
              FROM tok GROUP BY source),
        t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM s),
        p AS (SELECT source, n_docs, n_tokens,
                     ROUND(CAST(n_tokens AS DOUBLE) / t.total, 9) AS raw_share,
                     ROUND(POW(CAST(n_tokens AS DOUBLE) / t.total, 0.7), 9)
                       AS pw
              FROM s, t),
        z AS (SELECT CAST(SUM(CAST(pw AS DECIMAL(28,9))) AS DOUBLE) AS zsum
              FROM p)
        SELECT source, n_docs, n_tokens, raw_share,
               ROUND(pw / z.zsum, 6) AS temp_weight,
               CAST(ROUND(pw / z.zsum * 1000000, 0) AS BIGINT) AS alloc_tokens
        FROM p, z ORDER BY source""")),

    // ---- q112: bigram-LM perplexity scoring (CCNet-style filter) ----
    // Score every document by its mean negative log-likelihood under an
    // add-1-smoothed bigram model trained on the corpus itself — the
    // n-gram step past q88's unigram NLL, and the shape of the KenLM
    // quality filter in CCNet-style pipelines (docs the corpus's own
    // bigram statistics find surprising are noise/boilerplate/other-
    // language candidates). P(w2|w1) = (C(w1 w2)+1)/(C(w1)+V).
    // Determinism: −ln P is rounded to 9 dp ONCE per distinct bigram in
    // the model table; each doc's sum over bigram occurrences
    // accumulates those rounded values in exact decimal ⇒ independent of
    // join/summation order in both engines.
    //
    // 100 TB posture: model training is one partial→final count agg per
    // n-gram order; scoring is a keyed equijoin of doc-bigram
    // occurrences against the model on the bigram string (big⋈big,
    // shuffle-sharded — the model does NOT broadcast at corpus scale);
    // V and the unigram side ride keyed joins too. Top-k via
    // TakeOrderedAndProject.
    "q112_bigram_nll" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
          .filter(size(col("toks")) >= 2)
        val bigrams = toks.select(col("doc_id"),
            slice(col("toks"), lit(1), size(col("toks")) - 1).as("h"),
            slice(col("toks"), lit(2), size(col("toks")) - 1).as("t"))
          .select(col("doc_id"),
            explode(arrays_zip(col("h"), col("t"))).as("z"))
          .select(col("doc_id"), col("z.h").as("w1"),
            concat_ws(" ", col("z.h"), col("z.t")).as("gram"))
        val uni = toks.select(explode(col("toks")).as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("c1"))
        val vocab = uni.agg(count(lit(1)).as("v"))
        val bi = bigrams.groupBy(col("w1").as("bw1"), col("gram"))
          .agg(count(lit(1)).as("c2"))
        val model = bi.join(uni, col("bw1") === col("w1"))
          .crossJoin(broadcast(vocab))
          .select(col("gram"),
            round(-log((col("c2") + lit(1)).cast("double") /
              (col("c1") + col("v")).cast("double")), 9).as("nll"))
        bigrams.join(model, "gram")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("nll").cast(DecimalType(28, 9))).cast("double").as("sum_nll"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("sum_nll") / col("n_bigrams"), 6).as("mean_nll"))
          .orderBy(col("mean_nll").desc, col("doc_id").asc)
          .limit(20)
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                   FROM documents),
        n AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
        bg AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS gram
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                     FROM n)),
        uni AS (SELECT unnest(toks) AS w1 FROM n),
        u AS (SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY w1),
        vocab AS (SELECT COUNT(*) AS v FROM u),
        bi AS (SELECT w1, gram, COUNT(*) AS c2 FROM bg GROUP BY w1, gram),
        model AS (SELECT bi.gram,
                         ROUND(-LN((bi.c2 + 1) / CAST(u.c1 + vocab.v AS DOUBLE)), 9)
                           AS nll
                  FROM bi JOIN u ON u.w1 = bi.w1, vocab),
        $NllTopTail""")),

    // ---- q178: interpolated Kneser–Ney bigram scoring ----
    // The production n-gram smoothing (what KenLM builds) to q112's
    // add-1: absolute discount D=0.75 on the bigram MLE, with the
    // discounted mass re-spent on the CONTINUATION unigram — how many
    // distinct contexts a word follows, not how often it occurs.
    //   P(w2|w1) = (C(w1w2) − D)/C(w1·) + D·N1+(w1·)/C(w1·) · N1+(·w2)/T
    // where C(w1·) = Σ_w C(w1 w), N1+(w1·)/N1+(·w2) = distinct
    // successor/predecessor type counts, T = total bigram types. Scoring
    // the training corpus itself ⇒ every scored bigram has C ≥ 1 > D, so
    // no backoff-only branch is reachable (documented contract).
    // Determinism: all five model statistics are exact integers; −ln of
    // the mirrored double formula is rounded ONCE per distinct bigram at
    // 9 dp (continuous value — the q112 class, not the integer-ratio
    // class); doc sums accumulate the rounded values in exact decimal.
    //
    // 100 TB posture: identical shape to q112 — model = two keyed count
    // aggs off one shared bigram agg plus a 1-row type count; scoring =
    // big⋈big equijoin on the gram string, shuffle-sharded (the model
    // never broadcasts at corpus scale); top-k via TakeOrderedAndProject.
    "q178_kneser_ney_nll" -> QueryDef(
      build = (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
          .filter(size(col("toks")) >= 2)
        val bigr = toks.select(col("doc_id"),
            slice(col("toks"), lit(1), size(col("toks")) - 1).as("h"),
            slice(col("toks"), lit(2), size(col("toks")) - 1).as("t"))
          .select(col("doc_id"), explode(arrays_zip(col("h"), col("t"))).as("z"))
          .select(col("doc_id"), col("z.h").as("w1"), col("z.t").as("w2"),
            concat_ws(" ", col("z.h"), col("z.t")).as("gram"))
        val bi = bigr.groupBy(col("w1"), col("w2"), col("gram"))
          .agg(count(lit(1)).as("c2"))
        val ctx = bi.groupBy(col("w1").as("cw1"))
          .agg(sum(col("c2")).as("ctx1"), count(lit(1)).as("n1f"))
        val back = bi.groupBy(col("w2").as("bw2"))
          .agg(count(lit(1)).as("n1b"))
        val types = bi.agg(count(lit(1)).as("tt"))
        val model = bi.join(ctx, col("w1") === col("cw1"))
          .join(back, col("w2") === col("bw2"))
          .crossJoin(broadcast(types))
          .select(col("gram"), round(-log(
            (col("c2").cast("double") - lit(0.75)) / col("ctx1") +
              lit(0.75) * col("n1f").cast("double") / col("ctx1") *
              (col("n1b").cast("double") / col("tt"))), 9).as("nll"))
        bigr.join(model, "gram")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("nll").cast(DecimalType(28, 9))).cast("double").as("sum_nll"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("sum_nll") / col("n_bigrams"), 6).as("mean_nll"))
          .orderBy(col("mean_nll").desc, col("doc_id").asc)
          .limit(20)
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                   FROM documents),
        n AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
        bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
                      toks[i] || ' ' || toks[i + 1] AS gram
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                     FROM n)),
        bi AS (SELECT w1, w2, gram, COUNT(*) AS c2 FROM bg GROUP BY 1, 2, 3),
        ctx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS ctx1, COUNT(*) AS n1f
                FROM bi GROUP BY w1),
        bk AS (SELECT w2, COUNT(*) AS n1b FROM bi GROUP BY w2),
        ty AS (SELECT COUNT(*) AS tt FROM bi),
        model AS (SELECT bi.gram,
                         ROUND(-LN((CAST(bi.c2 AS DOUBLE) - 0.75) / ctx.ctx1
                           + 0.75 * CAST(ctx.n1f AS DOUBLE) / ctx.ctx1
                           * (CAST(bk.n1b AS DOUBLE) / ty.tt)), 9) AS nll
                  FROM bi JOIN ctx ON ctx.w1 = bi.w1
                          JOIN bk ON bk.w2 = bi.w2, ty),
        $NllTopTail""")),

    // ---- q262: skip-gram pairs with frequency subsampling ----
    // The word2vec data-prep operator (Mikolov et al. '13): frequent
    // tokens are dropped with keep-probability p(w) = √(t/f) + t/f
    // (t = 10⁻³, f = corpus frequency fraction), sequences COMPACT
    // around the removals (windows widen over dropped tokens — the
    // published behavior), and (center, context) pairs are emitted for
    // |offset| ≤ 2 over the compacted sequence. The coin is an
    // md5-derived 48-bit uniform per occurrence — partition- and
    // engine-independent; p(w) itself uses IEEE sqrt/div, which both
    // engines round identically (the same determinism class as the
    // cosine kernels). Top-50 pair census + corpus keep-rate.
    //
    // 100 TB posture: frequency table and total are vocab-sized
    // (broadcast); the keep decision is map-side; the one token-scale
    // shuffle is the doc re-group to compacted sequences (any
    // order-sensitive token op pays exactly this); pair generation is
    // in-row (flatten/transform), then a pair-keyed partial/final agg
    // and a TakeOrdered top-50.
    "q262_skipgram_subsample" -> QueryDef(
      build = (spark, dir) => {
        val tk = Tables.documents(spark, dir)
          .select(col("doc_id"),
            posexplode(split(trim(col("text")), " ")).as(Seq("pos", "w")))
        val fr = tk.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        val tt = fr.agg(sum(col("cnt")).as("t"))
        val kept = tk.join(broadcast(fr), Seq("w")).crossJoin(broadcast(tt))
          .withColumn("u",
            conv(substring(md5(concat_ws(":", col("doc_id"), col("pos"),
              col("w"))), 1, 12), 16, 10).cast("long").cast("double") /
              lit(281474976710656.0))
          .withColumn("frac", col("cnt").cast("double") / col("t").cast("double"))
          .withColumn("p", sqrt(lit(0.001) / col("frac")) +
            lit(0.001) / col("frac"))
          .filter(col("u") < col("p"))
          .select(col("doc_id"), col("pos"), col("w"))
        val seqs = kept.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(col("pos"), col("w"))))
            .as("sw"))
          .select(expr("transform(sw, s -> s.w)").as("ws"))
        val pairs = seqs.select(explode(expr(
          "flatten(transform(sequence(0, size(ws) - 1), i -> " +
            "transform(filter(array(i - 2, i - 1, i + 1, i + 2), " +
            "j -> j >= 0 AND j < size(ws)), " +
            "j -> struct(ws[i] AS center, ws[j] AS context))))"))
          .as("pr"))
          .select(col("pr.center").as("center"), col("pr.context").as("context"))
        val st = tk.agg(count(lit(1)).as("total_tokens"))
          .crossJoin(kept.agg(count(lit(1)).as("kept_tokens")))
        pairs.groupBy(col("center"), col("context"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("center"), col("context"))
          .limit(50)
          .crossJoin(broadcast(st))
          .withColumn("kept_ppm",
            expr("kept_tokens * 1000000 div total_tokens"))
          .orderBy(col("n_pairs").desc, col("center"), col("context"))
      },
      oracle = Some("""
        WITH tk AS (SELECT doc_id, t.i - 1 AS pos, t.w
                    FROM (SELECT doc_id, string_split(trim(text), ' ') AS ts
                          FROM documents),
                    LATERAL (SELECT unnest(ts) AS w,
                                    generate_subscripts(ts, 1) AS i) t),
        fr AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
        tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM fr),
        kept AS (SELECT tk.doc_id, tk.pos, tk.w
                 FROM tk JOIN fr USING (w) CROSS JOIN tt
                 WHERE CAST(('0x' || substr(md5(CAST(tk.doc_id AS VARCHAR)
                         || ':' || CAST(tk.pos AS VARCHAR) || ':' || tk.w),
                         1, 12))::BIGINT AS DOUBLE) / 281474976710656.0
                       < sqrt(0.001 / (CAST(fr.cnt AS DOUBLE)
                           / CAST(tt.t AS DOUBLE)))
                         + 0.001 / (CAST(fr.cnt AS DOUBLE)
                           / CAST(tt.t AS DOUBLE))),
        sq AS (SELECT doc_id, list(w ORDER BY pos) AS ws
               FROM kept GROUP BY 1),
        pr AS (SELECT ws[CAST(i AS INT)] AS center,
                      ws[CAST(j AS INT)] AS context
               FROM sq,
                    LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) a,
                    LATERAL (SELECT unnest([i - 2, i - 1, i + 1, i + 2])
                             AS j) b
               WHERE j >= 1 AND j <= len(ws)),
        pc AS (SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
               FROM pr GROUP BY 1, 2),
        top AS (SELECT * FROM pc
                ORDER BY n_pairs DESC, center, context LIMIT 50),
        st AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tk)
                        AS total_tokens,
                      (SELECT CAST(COUNT(*) AS BIGINT) FROM kept)
                        AS kept_tokens)
        SELECT center, context, n_pairs, total_tokens, kept_tokens,
               kept_tokens * 1000000 // total_tokens AS kept_ppm
        FROM top CROSS JOIN st
        ORDER BY n_pairs DESC, center, context""")),

    // ---- q287: length-grouped batching padding audit ----
    // The dynamic-batching question every training/inference stack
    // answers with length bucketing: a batch pads every sequence to its
    // longest member, so RANDOM batching pays the corpus's full length
    // variance in padding, while LENGTH-SORTED batching puts like with
    // like and pays almost none. This gate measures both, exactly:
    // the same corpus ranked twice (token length desc vs the md5-48bit
    // hash coin — the pinned stand-in for random shard order), cut into
    // 32-row batches by rank, each batch costed n·max(len) padded
    // tokens vs Σlen useful tokens, rolled into the two-strategy card
    // with waste in integer ppm. Both global orders run through the
    // stat-routed [[graft.operators.GlobalRank]] (naive window below
    // the measured ~2M crossover, sharded two-pass above), so the
    // "global sort" the operator needs is shuffle-sane at any scale.
    //
    // 100 TB posture: two routed rank passes + batch-keyed aggs; the
    // final card is 2 rows; nothing is all-pairs and the ppm step runs
    // in DECIMAL(38,0)/HUGEINT.
    "q287_length_batch_audit" -> QueryDef(
      build = (spark, dir) => {
        import graft.operators.GlobalRank
        val b = 32L
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"),
            size(split(trim(col("text")), " ")).cast("long").as("n"),
            conv(substring(md5(concat(lit("q287#"),
              col("doc_id").cast("string"))), 1, 12), 16, 10)
              .cast("long").as("h"))
          .localCheckpoint(false)
        val nRows = Some(d.count())
        def card(valueCol: String,
            strat: String): org.apache.spark.sql.DataFrame = {
          val (_, ranked) = GlobalRank.withRankAndPrefixAuto(
            d, valueCol, "doc_id", rowCount = nRows)
          ranked.withColumn("b", expr(s"(rn - 1) div $b"))
            .groupBy(col("b"))
            .agg(count(lit(1)).as("c"), max(col("n")).as("mx"),
              sum(col("n")).as("s"))
            .agg(count(lit(1)).as("n_batches"),
              sum(col("s")).as("total_tokens"),
              sum(col("c") * col("mx")).as("padded_tokens"))
            .select(lit(strat).as("strategy"), col("n_batches"),
              col("total_tokens"), col("padded_tokens"))
        }
        card("n", "length_sorted").unionAll(card("h", "hash_shuffled"))
          .withColumn("waste_ppm", expr(
            "CAST((CAST(padded_tokens AS DECIMAL(38,0)) - total_tokens)" +
              " * 1000000 div CAST(padded_tokens AS DECIMAL(38,0))" +
              " AS BIGINT)"))
          .orderBy(col("strategy"))
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id,
                          CAST(len(string_split(trim(text), ' '))
                            AS BIGINT) AS n,
                          ('0x' || substr(md5('q287#'
                            || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                            AS h
                   FROM documents),
        ls AS (SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, doc_id)
                 AS BIGINT) AS rn FROM d),
        hs AS (SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY h DESC, doc_id)
                 AS BIGINT) AS rn FROM d),
        lb AS (SELECT (rn - 1) // 32 AS b, CAST(COUNT(*) AS BIGINT) AS c,
                      MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS s
               FROM ls GROUP BY 1),
        hb AS (SELECT (rn - 1) // 32 AS b, CAST(COUNT(*) AS BIGINT) AS c,
                      MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS s
               FROM hs GROUP BY 1),
        la AS (SELECT 'length_sorted' AS strategy,
                      CAST(COUNT(*) AS BIGINT) AS n_batches,
                      CAST(SUM(s) AS BIGINT) AS total_tokens,
                      CAST(SUM(c * mx) AS BIGINT) AS padded_tokens
               FROM lb),
        ha AS (SELECT 'hash_shuffled' AS strategy,
                      CAST(COUNT(*) AS BIGINT) AS n_batches,
                      CAST(SUM(s) AS BIGINT) AS total_tokens,
                      CAST(SUM(c * mx) AS BIGINT) AS padded_tokens
               FROM hb),
        u AS (SELECT * FROM la UNION ALL SELECT * FROM ha)
        SELECT strategy, n_batches, total_tokens, padded_tokens,
               CAST((CAST(padded_tokens AS HUGEINT) - total_tokens)
                 * 1000000 // padded_tokens AS BIGINT) AS waste_ppm
        FROM u ORDER BY strategy""")),

    // ---- q319: negative-sampling table (count^{3/4} smoothing) ----
    // q262 generates the skip-gram PAIRS; this builds the other half of
    // the word2vec data path — the negative-sampling table, allocated
    // ∝ count(w)^{3/4} (the published smoothing that lifts rare-token
    // exposure without handing the table to stopwords). The ¾ power is
    // computed EXACTLY in integers — no libm, no pow(): floor(c^{3/4})
    // = isqrt(isqrt(c³)) by the nested-radical identity
    // floor(√floor(√n)) = floor(n^{1/4}), with isqrt built from the
    // IEEE double sqrt plus a ±1 integer correction (squares compared
    // in exact BIGINT), so the result is exact for every c³ < 2⁵³ —
    // a reusable no-libm primitive alongside the q160 ⌊log2⌋ trick.
    // Slots are then assigned by largest-remainder (the q122
    // apportionment, here on smoothed weights) so exactly T = 65536
    // slots allocate. The card is the FULL allocation table (output is
    // vocab-bounded — the table is the product) with raw vs smoothed vs
    // slot share per token; measured sf0.01: the corpus' one rare token
    // ('dup', cnt 26 vs ~900 for the rest) gets its exposure lifted
    // 2.3× (raw 957 ppm → smoothed 2225 ppm) — the ¾ power doing
    // precisely its published job, visible because the card keeps the
    // tail.
    //
    // 100 TB posture: the token-count agg is the vocab shuffle any
    // counting pass pays; everything after runs at vocab cardinality
    // (the largest-remainder rank is a vocab-bounded window — route
    // through GlobalRank if the vocab ever approaches corpus scale).
    "q319_negative_sampling_table" -> QueryDef(
      build = (spark, dir) => {
        val fr = Tables.documents(spark, dir)
          .select(explode(split(trim(col("text")), " ")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 5)
        val sm = fr
          .withColumn("x3", expr("cnt * cnt * cnt"))
          .withColumn("r0",
            expr("CAST(FLOOR(SQRT(CAST(x3 AS DOUBLE))) AS BIGINT)"))
          .withColumn("r1", expr("r0" +
            " + (CASE WHEN (r0 + 1) * (r0 + 1) <= x3 THEN 1 ELSE 0 END)" +
            " - (CASE WHEN r0 * r0 > x3 THEN 1 ELSE 0 END)"))
          .withColumn("y0",
            expr("CAST(FLOOR(SQRT(CAST(r1 AS DOUBLE))) AS BIGINT)"))
          .withColumn("w34", expr("y0" +
            " + (CASE WHEN (y0 + 1) * (y0 + 1) <= r1 THEN 1 ELSE 0 END)" +
            " - (CASE WHEN y0 * y0 > r1 THEN 1 ELSE 0 END)"))
          .select(col("token"), col("cnt"), col("w34"))
          .localCheckpoint(false)
        val tot = sm.agg(sum(col("cnt")).as("c_tot"),
          sum(col("w34")).as("w_tot"), count(lit(1)).as("vocab_n"))
        val al = sm.crossJoin(broadcast(tot))
          .withColumn("base", expr("(65536 * w34) div w_tot"))
          .withColumn("rem", expr("(65536 * w34) % w_tot"))
        val ranked = al.selectExpr("*",
          "row_number() OVER (ORDER BY rem DESC, token) AS rk")
        val lv = al.agg((lit(65536L) - sum(col("base"))).as("leftover"))
        val sl = ranked.crossJoin(broadcast(lv))
          .withColumn("slots",
            expr("base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END)"))
          .localCheckpoint(false)
        val chk = sl.agg(sum(col("slots")).as("allocated"))
        sl.crossJoin(broadcast(chk))
          .select(col("token"), col("cnt"), col("w34"), col("slots"),
            expr("cnt * 1000000 div c_tot").as("raw_share_ppm"),
            expr("w34 * 1000000 div w_tot").as("smooth_share_ppm"),
            expr("slots * 1000000 div 65536").as("slot_ppm"),
            col("vocab_n"), col("c_tot"), col("w_tot"),
            lit(65536L).as("table_size"), col("allocated"))
          .orderBy(col("slots").desc, col("token"))
      },
      oracle = Some("""
        WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        fr AS (SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM tok GROUP BY 1 HAVING COUNT(*) >= 5),
        s1 AS (SELECT token, cnt, cnt * cnt * cnt AS x3,
                      CAST(FLOOR(SQRT(CAST(cnt * cnt * cnt AS DOUBLE)))
                        AS BIGINT) AS r0
               FROM fr),
        s2 AS (SELECT token, cnt,
                      r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= x3
                              THEN 1 ELSE 0 END)
                         - (CASE WHEN r0 * r0 > x3 THEN 1 ELSE 0 END)
                        AS r1
               FROM s1),
        s3 AS (SELECT token, cnt, r1,
                      CAST(FLOOR(SQRT(CAST(r1 AS DOUBLE))) AS BIGINT)
                        AS y0
               FROM s2),
        s4 AS MATERIALIZED (SELECT token, cnt,
                      y0 + (CASE WHEN (y0 + 1) * (y0 + 1) <= r1
                              THEN 1 ELSE 0 END)
                         - (CASE WHEN y0 * y0 > r1 THEN 1 ELSE 0 END)
                        AS w34
               FROM s3),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS c_tot,
                       CAST(SUM(w34) AS BIGINT) AS w_tot,
                       CAST(COUNT(*) AS BIGINT) AS vocab_n
                FROM s4),
        al AS MATERIALIZED (
          SELECT token, cnt, w34, c_tot, w_tot, vocab_n,
                 (65536 * w34) // w_tot AS base,
                 (65536 * w34) % w_tot AS rem
          FROM s4 CROSS JOIN tot),
        lr AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, token)
                 AS rk
               FROM al),
        lv AS (SELECT CAST(65536 - SUM(base) AS BIGINT) AS leftover
               FROM al),
        sl AS MATERIALIZED (
          SELECT token, cnt, w34, c_tot, w_tot, vocab_n,
                 CAST(base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                   AS BIGINT) AS slots
          FROM lr CROSS JOIN lv),
        chk AS (SELECT CAST(SUM(slots) AS BIGINT) AS allocated FROM sl)
        SELECT token, cnt, w34, slots,
               cnt * 1000000 // c_tot AS raw_share_ppm,
               w34 * 1000000 // w_tot AS smooth_share_ppm,
               slots * 1000000 // 65536 AS slot_ppm,
               vocab_n, c_tot, w_tot,
               CAST(65536 AS BIGINT) AS table_size, allocated
        FROM sl CROSS JOIN chk
        ORDER BY slots DESC, token"""))
  ) ++ runsDefs

  /** q309, appended to [[defs]] above (lazy: referenced before its
    * textual position during object init). */
  private lazy val runsDefs: Seq[(String, QueryDef)] = Seq(
    // ---- q309: training-order randomness certificate (runs test) ----
    // Models see data in ORDER, and order bias is a silent training
    // bug: a source-clustered stream makes every batch a biased
    // gradient (curriculum nobody asked for). The Wald–Wolfowitz runs
    // test certifies an order: for a binary indicator over the
    // sequence, the run count R is compared to E[R] = 2n₁n₂/n + 1;
    // too FEW runs = clustered, too MANY = systematically alternating
    // — both non-random, both caught. This gate tests the SAME corpus
    // under two orders: as-stored (doc_id — where the generator's
    // source = id mod 20 layout makes the half-split indicator run in
    // blocks, so the test must REJECT clustered) and md5-shuffled (the
    // fix production applies; must read random). Everything exact
    // integers: z² = (Rn − 2n₁n₂ − n)²(n−1) / (2n₁n₂(2n₁n₂ − n)) and
    // the α=0.05 decision is the cross-multiplied DECIMAL comparison
    // vs 1.96² = 38416/10⁴ (the q286 squared-critical recipe — no
    // sqrt, no libm); z²_milli is published beside the verdict.
    //
    // 100 TB posture: one projection, a lag window per ORDER (the
    // stored order is a sort the storage already has; the shuffled
    // order is the one global sort a shuffle IS), keyed rollups to a
    // 2-row report. At cluster scale the same certificate runs
    // per-shard and the run counts merge by adding boundary terms —
    // the window form here is the per-shard kernel.
    "q309_runs_test_order" -> QueryDef(
      build = (spark, dir) => {
        val base = Tables.documents(spark, dir).select(col("doc_id"),
          when(expr("doc_id % 20 < 10"), 1L).otherwise(0L).as("b"),
          md5(concat(lit("q309#"), col("doc_id").cast("string")))
            .as("shuf"))
        def runsOf(orderCol: String, name: String) = {
          val w = Window.orderBy(col(orderCol))
          base.withColumn("prev", lag(col("b"), 1).over(w))
            .agg(count(lit(1)).as("n"), sum(col("b")).as("n1"),
              (count(lit(1)) - sum(col("b"))).as("n2"),
              (sum(when(col("prev").isNull ||
                col("prev") =!= col("b"), 1L).otherwise(0L)))
                .as("runs"))
            .withColumn("ordering", lit(name))
        }
        runsOf("doc_id", "stored")
          .unionByName(runsOf("shuf", "shuffled"))
          .withColumn("dev", expr(
            "CAST(runs AS DECIMAL(38,0)) * n" +
              " - 2 * CAST(n1 AS DECIMAL(38,0)) * n2 - n"))
          .withColumn("expected_runs_milli", expr(
            "CAST((2 * CAST(n1 AS DECIMAL(38,0)) * n2 * 1000 div n)" +
              " + 1000 AS BIGINT)"))
          .withColumn("z2_milli", expr(
            "CAST(dev * dev * (n - 1) * 1000" +
              " div (2 * CAST(n1 AS DECIMAL(38,0)) * n2" +
              "   * (2 * CAST(n1 AS DECIMAL(38,0)) * n2 - n))" +
              " AS BIGINT)"))
          .withColumn("reject", when(expr(
            "dev * dev * (n - 1) * 10000" +
              " >= CAST(38416 AS DECIMAL(38,0))" +
              " * (2 * CAST(n1 AS DECIMAL(38,0)) * n2)" +
              " * (2 * CAST(n1 AS DECIMAL(38,0)) * n2 - n)"),
            1L).otherwise(0L))
          .select(col("ordering"), col("n"), col("n1"), col("n2"),
            col("runs"), col("expected_runs_milli"), col("z2_milli"),
            col("reject"),
            when(col("reject") === 0L, "random")
              .when(col("dev") < 0, "clustered")
              .otherwise("alternating").as("verdict"))
          .orderBy(col("ordering"))
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 20 < 10 THEN 1 ELSE 0 END AS b,
                 md5('q309#' || CAST(doc_id AS VARCHAR)) AS shuf
          FROM documents),
        st AS (
          SELECT 'stored' AS ordering, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(b) AS BIGINT) AS n1,
                 CAST(COUNT(*) - SUM(b) AS BIGINT) AS n2,
                 CAST(SUM(CASE WHEN prev IS NULL OR prev <> b THEN 1
                   ELSE 0 END) AS BIGINT) AS runs
          FROM (SELECT b, LAG(b, 1) OVER (ORDER BY doc_id) AS prev
                FROM base)),
        sh AS (
          SELECT 'shuffled' AS ordering, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(b) AS BIGINT) AS n1,
                 CAST(COUNT(*) - SUM(b) AS BIGINT) AS n2,
                 CAST(SUM(CASE WHEN prev IS NULL OR prev <> b THEN 1
                   ELSE 0 END) AS BIGINT) AS runs
          FROM (SELECT b, LAG(b, 1) OVER (ORDER BY shuf) AS prev
                FROM base)),
        u AS (SELECT * FROM st UNION ALL SELECT * FROM sh),
        f AS (
          SELECT *,
                 CAST(runs AS HUGEINT) * n
                   - 2 * CAST(n1 AS HUGEINT) * n2 - n AS dev
          FROM u)
        SELECT ordering, n, n1, n2, runs,
               CAST((2 * CAST(n1 AS HUGEINT) * n2 * 1000 // n) + 1000
                 AS BIGINT) AS expected_runs_milli,
               CAST(dev * dev * (n - 1) * 1000
                 // (2 * CAST(n1 AS HUGEINT) * n2
                    * (2 * CAST(n1 AS HUGEINT) * n2 - n))
                 AS BIGINT) AS z2_milli,
               CAST(CASE WHEN dev * dev * (n - 1) * 10000
                 >= CAST(38416 AS HUGEINT)
                 * (2 * CAST(n1 AS HUGEINT) * n2)
                 * (2 * CAST(n1 AS HUGEINT) * n2 - n)
                 THEN 1 ELSE 0 END AS BIGINT) AS reject,
               CASE WHEN dev * dev * (n - 1) * 10000
                   < CAST(38416 AS HUGEINT)
                   * (2 * CAST(n1 AS HUGEINT) * n2)
                   * (2 * CAST(n1 AS HUGEINT) * n2 - n) THEN 'random'
                 WHEN dev < 0 THEN 'clustered'
                 ELSE 'alternating' END AS verdict
        FROM f ORDER BY ordering""")),

    // ---- q335: single-batch packing optimality certificate ----
    // The q324 move (exact optimum as the heuristic's measuring stick)
    // applied to the packing family: q87 packs greedily in pick order;
    // HOW MUCH fill does greed leave on the table? On a bounded
    // instance (docs ≡0 mod 29, token counts as weights) the gate
    // computes the EXACT best single-batch fill ≤ 2048 by subset-sum
    // reachability DP (driver bitset over ~170 collected items × 2049
    // sums — the q324 precedent) beside the q87-style greedy
    // (pick-order, skip-if-overflow — a deterministic fold), and
    // certifies the gap. The oracle re-derives BOTH folds in a
    // different paradigm entirely — recursive-CTE reachability with
    // UNION dedup for the DP, a recursive running fold for the greedy
    // — so a DP bug, a greedy-order slip, or an off-by-one budget all
    // hash-mismatch.
    //
    // 100 TB posture: the instance is one filtered projection
    // (bounded by construction — optimality certificates are small-k
    // tools; production packs with q87's windowed greedy, whose regret
    // this gate now measures); the report is a LocalTableScan.
    // Measured sf0.1: 173 items, optimal fill hits the budget EXACTLY
    // (2048/2048) while greedy leaves 7 tokens (0.9966 of optimal) —
    // greed is near-optimal here, and now that is a number, not a hope.
    "q335_packing_optimality" -> QueryDef(
      build = (spark, dir) => {
        val budget = 2048
        val items = Tables.documents(spark, dir)
          .filter(col("doc_id") % 29 === 0)
          .select(col("doc_id"),
            size(split(trim(col("text")), " ")).cast("long")
              .as("n_tokens"),
            pickKey.as("pick"))
          .orderBy(col("pick"), col("doc_id"))
          .collect().map(r => r.getLong(1))
        // exact: subset-sum reachability over the budget
        val reach = Array.fill(budget + 1)(false)
        reach(0) = true
        items.foreach { w =>
          if (w <= budget)
            for (s <- budget - w.toInt to 0 by -1)
              if (reach(s)) reach(s + w.toInt) = true
        }
        val optimal = (budget to 0 by -1).find(reach(_)).get.toLong
        // q87-style greedy: pick order, skip what no longer fits
        val greedy = items.foldLeft(0L) { (cum, w) =>
          if (cum + w <= budget) cum + w else cum
        }
        import spark.implicits._
        Seq((items.length.toLong, items.sum, budget.toLong, greedy,
          optimal, optimal - greedy,
          greedy * 1000000L / math.max(optimal, 1L),
          optimal * 1000000L / budget))
          .toDF("n_items", "total_tokens", "budget", "greedy_fill",
            "optimal_fill", "gap", "greedy_vs_optimal_ppm",
            "optimal_vs_budget_ppm")
      },
      oracle = Some(s"""
        WITH RECURSIVE items AS MATERIALIZED (
          SELECT CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS w,
                 ROW_NUMBER() OVER (ORDER BY $SqlPickKey, doc_id) AS rn
          FROM documents WHERE doc_id % 29 = 0),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(w) AS BIGINT) AS tot
               FROM items),
        reach AS (
          SELECT 0 AS i, CAST(0 AS BIGINT) AS s
          UNION
          SELECT r.i + 1, r.s + f.f * t.w
          FROM reach r
          JOIN items t ON t.rn = r.i + 1
          CROSS JOIN (SELECT UNNEST([0, 1]) AS f) f
          WHERE r.s + f.f * t.w <= 2048),
        best AS (SELECT CAST(MAX(s) AS BIGINT) AS optimal_fill
                 FROM reach CROSS JOIN nn WHERE i = nn.n),
        greedy AS (
          SELECT 0 AS i, CAST(0 AS BIGINT) AS cum
          UNION ALL
          SELECT g.i + 1,
                 g.cum + CASE WHEN g.cum + t.w <= 2048 THEN t.w
                   ELSE 0 END
          FROM greedy g JOIN items t ON t.rn = g.i + 1),
        gf AS (SELECT CAST(cum AS BIGINT) AS greedy_fill
               FROM greedy CROSS JOIN nn WHERE i = nn.n)
        SELECT nn.n AS n_items, nn.tot AS total_tokens,
               CAST(2048 AS BIGINT) AS budget,
               gf.greedy_fill, b.optimal_fill,
               b.optimal_fill - gf.greedy_fill AS gap,
               gf.greedy_fill * 1000000
                 // GREATEST(b.optimal_fill, 1) AS greedy_vs_optimal_ppm,
               b.optimal_fill * 1000000 // 2048 AS optimal_vs_budget_ppm
        FROM nn CROSS JOIN best b CROSS JOIN gf""")),

    // ---- q345: token-budget data selection + LP-bound certificate ----
    // "Spend a 20% token budget on the richest documents" — the
    // knapsack-shaped SELECTION every curation pipeline runs (value =
    // distinct tokens, cost = tokens; value density = type-token
    // ratio). Greedy takes the density-ranked PREFIX while it fits —
    // exactly the fractional-LP optimum truncated at the first
    // non-fitting item, so the LP UPPER BOUND is computable in the
    // same plan: UB = prefix value + leftover budget × next item's
    // density (exact integer micro units). OPT is sandwiched
    // greedy ≤ OPT ≤ UB, so gap_ppm CERTIFIES how far greedy can
    // possibly be from the unknowable integer optimum (measured
    // sf0.1: gap 1 ppm — at corpus scale the fractional item is
    // noise, which is WHY production uses greedy). Per-source rows
    // show how density selection redistributes the mix vs the corpus
    // share (the selection-bias view a mixture designer checks).
    //
    // 100 TB posture: the density rank rides the stat-routed
    // [[graft.operators.GlobalRank]] (naive below the measured ~2M
    // crossover, sharded two-pass above); the budget cut is a prefix
    // sum in that order (the q155/q180 sharded recipe above
    // crossover); everything after runs at source cardinality.
    "q345_budget_selection" -> QueryDef(
      build = (spark, dir) => {
        import graft.operators.GlobalRank
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            size(split(trim(col("text")), " ")).cast("long").as("cost"),
            size(array_distinct(split(trim(col("text")), " ")))
              .cast("long").as("score"))
          .withColumn("ratio", expr("score * 1000000 div cost"))
          .localCheckpoint(false)
        val nRows = d.count()
        val tot = d.agg(sum(col("cost")).as("total_cost"),
          count(lit(1)).as("n_docs"))
          .withColumn("budget", expr("total_cost div 5"))
        val (_, ranked) = GlobalRank.withRankAndPrefixAuto(
          d, "ratio", "doc_id", rowCount = Some(nRows))
        val w = Window.orderBy(col("rn"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pre = ranked
          .withColumn("cumcost", sum(col("cost")).over(w))
          .withColumn("cumscore", sum(col("score")).over(w))
          .crossJoin(broadcast(tot))
          .withColumn("selected",
            when(col("cumcost") <= col("budget"), 1L).otherwise(0L))
          .localCheckpoint(false)
        val sel = pre.agg(
          sum(when(col("selected") === 1L, col("cost")).otherwise(0L))
            .as("sel_cost"),
          sum(when(col("selected") === 1L, col("score")).otherwise(0L))
            .as("sel_score"),
          sum(col("selected")).as("n_selected"))
        val nxt = pre.filter(col("selected") === 0L)
          .orderBy(col("rn")).limit(1)
          .select(col("score").as("nx_score"), col("cost").as("nx_cost"))
        val card = tot.crossJoin(broadcast(sel))
          .crossJoin(broadcast(nxt))
          .withColumn("greedy_micro", expr("sel_score * 1000000"))
          .withColumn("lp_ub_micro", expr("sel_score * 1000000 + " +
            "(budget - sel_cost) * nx_score * 1000000 div nx_cost"))
          .withColumn("gap_ppm", expr("(lp_ub_micro - greedy_micro)" +
            " * 1000000 div GREATEST(lp_ub_micro, 1)"))
        pre.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs_src"),
            sum(col("selected")).as("n_sel_src"),
            sum(when(col("selected") === 1L, col("cost")).otherwise(0L))
              .as("sel_cost_src"))
          .crossJoin(broadcast(card.select(col("n_docs"),
            col("total_cost"), col("budget"), col("n_selected"),
            col("sel_cost"), col("greedy_micro"), col("lp_ub_micro"),
            col("gap_ppm"))))
          .withColumn("sel_share_ppm",
            expr("n_sel_src * 1000000 div GREATEST(n_selected, 1)"))
          .withColumn("corpus_share_ppm",
            expr("n_docs_src * 1000000 div n_docs"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH d AS MATERIALIZED (
          SELECT doc_id, source,
                 CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS cost,
                 CAST(len(list_distinct(string_split(trim(text), ' ')))
                   AS BIGINT) AS score
          FROM documents),
        r AS MATERIALIZED (
          SELECT *, score * 1000000 // cost AS ratio FROM d),
        tot AS (SELECT CAST(SUM(cost) AS BIGINT) AS total_cost,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(cost) AS BIGINT) // 5 AS budget
                FROM r),
        ranked AS MATERIALIZED (
          SELECT *,
                 CAST(ROW_NUMBER() OVER (ORDER BY ratio DESC, doc_id)
                   AS BIGINT) AS rn,
                 CAST(SUM(cost) OVER (ORDER BY ratio DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumcost
          FROM r),
        pre AS MATERIALIZED (
          SELECT ranked.*,
                 CASE WHEN cumcost <= (SELECT budget FROM tot)
                   THEN 1 ELSE 0 END AS selected
          FROM ranked),
        sel AS (SELECT CAST(SUM(CASE WHEN selected = 1 THEN cost
                  ELSE 0 END) AS BIGINT) AS sel_cost,
                CAST(SUM(CASE WHEN selected = 1 THEN score ELSE 0 END)
                  AS BIGINT) AS sel_score,
                CAST(SUM(selected) AS BIGINT) AS n_selected
                FROM pre),
        nxt AS (SELECT score AS nx_score, cost AS nx_cost FROM pre
                WHERE selected = 0 ORDER BY rn LIMIT 1),
        card AS (SELECT t.*, s.*, n.nx_score, n.nx_cost,
                        s.sel_score * 1000000 AS greedy_micro,
                        s.sel_score * 1000000 + (t.budget - s.sel_cost)
                          * n.nx_score * 1000000 // n.nx_cost
                          AS lp_ub_micro
                 FROM tot t CROSS JOIN sel s CROSS JOIN nxt n)
        SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_docs_src,
               CAST(SUM(p.selected) AS BIGINT) AS n_sel_src,
               CAST(SUM(CASE WHEN p.selected = 1 THEN p.cost ELSE 0
                 END) AS BIGINT) AS sel_cost_src,
               c.n_docs, c.total_cost, c.budget, c.n_selected,
               c.sel_cost, c.greedy_micro, c.lp_ub_micro,
               (c.lp_ub_micro - c.greedy_micro) * 1000000
                 // GREATEST(c.lp_ub_micro, 1) AS gap_ppm,
               CAST(SUM(p.selected) AS BIGINT) * 1000000
                 // GREATEST(c.n_selected, 1) AS sel_share_ppm,
               CAST(COUNT(*) AS BIGINT) * 1000000 // c.n_docs
                 AS corpus_share_ppm
        FROM pre p CROSS JOIN card c
        GROUP BY p.source, c.n_docs, c.total_cost, c.budget,
                 c.n_selected, c.sel_cost, c.greedy_micro,
                 c.lp_ub_micro
        ORDER BY p.source""")),

    // ---- q359: hashed-n-gram importance resampling (round 15) ----
    // DSIR-style data selection (Xie et al. 2023): score every document
    // by how target-like its hashed unigram distribution is, then
    // resample with probability proportional to the score. Target
    // domain = the `en` documents; features = unigrams hashed into 1024
    // buckets with the md5-coin discipline (the ONLY hash both engines
    // compute bit-identically — xxhash64/murmur differ across engines).
    // Per-bucket importance ratio with add-1 smoothing, EXACT in
    // integer ppm: lr_b = (T_b+1)·(R+1024)·10⁶ div ((R_b+1)·(T+1024))
    // — Σ(T_b+1) = T+1024 keeps it a proper smoothed ratio. The paper's
    // log-likelihood-ratio score is replaced by its LINEAR surrogate
    // (mean per-token ratio, floor-div ppm): logs are not engine-exact
    // doubles, and the monotone surrogate preserves the selection
    // ordering this gate certifies. Resampling is DETERMINISTIC
    // importance sampling: accept iff md5-coin(doc_id) % 10⁶ <
    // min(10⁶, score·250000 div mean_score) — acceptance ∝ score,
    // calibrated to ≈ 25% of the corpus in expectation. Output: the
    // per-language selection card — the law a reader checks is that the
    // target language's selection rate dominates every other's.
    //
    // 100 TB posture: one explode + two bucket censuses (1024-row
    // broadcast results), per-doc scoring is a keyed aggregation over
    // the exploded tokens, selection is an in-row coin — no pairwise
    // structure anywhere.
    "q359_importance_resample" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val toks = docs
          .select(col("doc_id"), col("lang"),
            explode(split(trim(col("text")), " ")).as("tok"))
          .withColumn("b",
            conv(substring(md5(col("tok")), 1, 12), 16, 10)
              .cast("long") % 1024L)
          .localCheckpoint(false)
        val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("r_b"))
        val tgt = toks.filter(col("lang") === "en")
          .groupBy(col("b")).agg(count(lit(1)).as("t_b"))
        val tots = toks.agg(count(lit(1)).as("r_tot"),
          coalesce(sum(when(col("lang") === "en", 1L).otherwise(0L)),
            lit(0L)).as("t_tot"))
        val lr = raw.join(tgt, Seq("b"), "left")
          .na.fill(0L, Seq("t_b"))
          .crossJoin(broadcast(tots))
          .select(col("b"), expr(
            "CAST(CAST(t_b + 1 AS DECIMAL(38,0)) * (r_tot + 1024)" +
              " * 1000000 div (CAST(r_b + 1 AS DECIMAL(38,0))" +
              " * (t_tot + 1024)) AS BIGINT)").as("lr_ppm"))
        val scored = toks.join(broadcast(lr), Seq("b"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(expr("sum(lr_ppm) div count(1)").as("score_ppm"))
          .localCheckpoint(false)
        val mean = scored.agg(
          expr("sum(score_ppm) div count(1)").as("mean_ppm"))
        val sel = scored.crossJoin(broadcast(mean))
          .withColumn("p_ppm", least(lit(1000000L), expr(
            "CAST(CAST(score_ppm AS DECIMAL(38,0)) * 250000" +
              " div mean_ppm AS BIGINT)")))
          .withColumn("coin",
            conv(substring(md5(concat(lit("q359C#"),
              col("doc_id").cast("string"))), 1, 12), 16, 10)
              .cast("long") % 1000000L)
          .withColumn("selected",
            when(col("coin") < col("p_ppm"), 1L).otherwise(0L))
        sel.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("selected")).as("n_sel"),
            expr("sum(score_ppm) div count(1)").as("mean_score_ppm"),
            min(col("score_ppm")).as("min_score_ppm"),
            max(col("score_ppm")).as("max_score_ppm"))
          .select(col("lang"), col("n_docs"), col("n_sel"),
            expr("n_sel * 1000000 div n_docs").as("sel_rate_ppm"),
            col("mean_score_ppm"), col("min_score_ppm"),
            col("max_score_ppm"))
          .orderBy(col("lang"))
      },
      oracle = Some("""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(tok), 1, 12))::BIGINT % 1024 AS b
          FROM (SELECT doc_id, lang,
                       unnest(string_split(trim(text), ' ')) AS tok
                FROM documents)),
        raw AS (SELECT b, COUNT(*) AS r_b FROM toks GROUP BY 1),
        tgt AS (SELECT b, COUNT(*) AS t_b FROM toks
                WHERE lang = 'en' GROUP BY 1),
        tots AS (SELECT COUNT(*) AS r_tot,
                        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS t_tot
                 FROM toks),
        lr AS (SELECT raw.b,
                      CAST(CAST(COALESCE(t_b, 0) + 1 AS HUGEINT)
                        * (r_tot + 1024) * 1000000
                        // (CAST(r_b + 1 AS HUGEINT) * (t_tot + 1024))
                        AS BIGINT) AS lr_ppm
               FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tots),
        scored AS MATERIALIZED (
          SELECT doc_id, lang,
                 CAST(SUM(lr_ppm) // COUNT(*) AS BIGINT) AS score_ppm
          FROM toks JOIN lr USING (b)
          GROUP BY 1, 2),
        mean AS (SELECT CAST(SUM(score_ppm) // COUNT(*) AS BIGINT)
                   AS mean_ppm FROM scored),
        sel AS (SELECT lang, score_ppm,
                       CASE WHEN ('0x' || substr(md5('q359C#'
                           || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                           % 1000000
                         < LEAST(1000000, CAST(
                           CAST(score_ppm AS HUGEINT) * 250000
                             // mean_ppm AS BIGINT))
                       THEN 1 ELSE 0 END AS selected
                FROM scored CROSS JOIN mean)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(selected) AS BIGINT) AS n_sel,
               CAST(SUM(selected) AS BIGINT) * 1000000 // COUNT(*)
                 AS sel_rate_ppm,
               CAST(SUM(score_ppm) // COUNT(*) AS BIGINT)
                 AS mean_score_ppm,
               CAST(MIN(score_ppm) AS BIGINT) AS min_score_ppm,
               CAST(MAX(score_ppm) AS BIGINT) AS max_score_ppm
        FROM sel GROUP BY lang ORDER BY lang"""))
  )
}
