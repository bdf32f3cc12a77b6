package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus risk accounting — the statistics a data team reads BEFORE
  * committing a training mix: out-of-vocabulary exposure (hapax docs),
  * marginal novelty per source, length-distribution shape, the token
  * mass dedup would reclaim, and recency weighting. Complements Mixing
  * (which constructs the mix) with the diagnostics that justify it.
  *
  * Determinism contract as everywhere: integer or dyadic-exact
  * arithmetic only — including q162's exponential decay, which is made
  * bit-exact by keeping weights as integer ppm of a power of two
  * rather than calling libm pow.
  */
object CorpusStats {

  import Det.toks

  /** Integer score quantization shared by the AUC gates: Σ ⌊xᵢ²·10⁴⌋
    * over the embedding — floor of a deterministic IEEE product,
    * identical in both engines. */
  private[queries] def l2QuantScore: Column =
    expr("aggregate(embedding, 0L, (acc, x) -> " +
      "acc + cast(floor(cast(x as double) * cast(x as double) * 10000) as long))")

  /** DuckDB mirror of [[l2QuantScore]]. */
  private val SqlL2QuantScore: String = """CAST(list_sum(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                     * 10000) AS BIGINT))) AS BIGINT)"""

  /** The `s` CTE of the AUC-family oracles: `cols`, then the
    * [[l2QuantScore]] `score` and the label >= 5 `pos` flag per embedding. */
  private def sqlScored(cols: String): String = s"""
        WITH s AS (
          SELECT $cols$SqlL2QuantScore AS score,
                 CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
          FROM embeddings)"""

  /** THE tie-corrected Mann-Whitney rank-sum kernel — the single
    * implementation behind q169 (global) and q171 (per-class), so the
    * two gates cannot drift independently (RankSumSpec pins q171's
    * binary case ≡ q169 on top).
    *
    * Input: rows of [groupCols..., score: long, pos: 0/1 long]. Ties
    * collapse via a per-(group, score) partial agg BEFORE the ordered
    * window (the q145 distinct-value move), cumulative negatives run
    * inside the (optionally group-partitioned) window over DISTINCT
    * scores, and the tie-corrected U comes from the integer identity
    * 2U = Σ_s (2·np_s·cumNegBelow_s + np_s·nn_s). Output:
    * [groupCols..., n_pos, n_neg, u2, auc_ppm] — one row per group
    * (one row total when groupCols is empty), AUC in ppm by integer
    * division, no floating point anywhere.
    *
    * 100 TB posture: the event-scale stage is the per-score
    * partial/final agg; the ordered pass runs over DISTINCT scores
    * only (range-partition + prefix-sum past memory scale, per the
    * q145 production note), and per-class windows partition by class. */
  private[queries] def rankSumAuc(scored: DataFrame, groupCols: String*): DataFrame = {
    val g = scored.groupBy((groupCols :+ "score").map(col): _*)
      .agg(sum(col("pos")).as("np"),
        (count(lit(1)) - sum(col("pos"))).as("nn"))
    val w = (if (groupCols.isEmpty) Window.orderBy(col("score"))
             else Window.partitionBy(groupCols.map(col): _*).orderBy(col("score")))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = g.withColumn("cumneg", coalesce(sum(col("nn")).over(w), lit(0L)))
    val aggs = Seq(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
      sum(col("np") * col("cumneg") * 2 + col("np") * col("nn")).as("u2"))
    val t =
      if (groupCols.isEmpty) c.agg(aggs.head, aggs.tail: _*)
      else c.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // degenerate group (no positives or no negatives): AUC undefined —
    // NULL, matching DuckDB, instead of an ANSI divide-by-zero throw
    t.withColumn("auc_ppm", expr(
      "CASE WHEN n_pos > 0 AND n_neg > 0 " +
        "THEN (u2 * 1000000) div (2 * n_pos * n_neg) END"))
  }

  /** The `sh0` CTE: each document's distinct single-space word trigrams
    * (`shingles(toks(text), 3)`) as `gs`, with its source. */
  private val SourceShinglesCte: String = """WITH sh0 AS (
          SELECT source,
                 list_distinct(list_transform(
                   range(1, GREATEST(len(string_split(trim(text), ' ')) - 1, 1)),
                   i -> string_split(trim(text), ' ')[i] || ' ' ||
                        string_split(trim(text), ' ')[i+1] || ' ' ||
                        string_split(trim(text), ' ')[i+2])) AS gs
          FROM documents)"""

  /** q221's and q263's sketch input: `tok`, the distinct (source,
    * trigram) pairs, and `regs`, each source's 256 HLL registers
    * (source, reg, m) over the md5 of its trigrams. Trigram shingles, not
    * unigrams: the synthetic vocab is ~31 tokens/source (degenerate for
    * a sketch); shingles give the thousands-per-source cardinality that
    * exercises the raw harmonic-mean branch with realistic register
    * saturation. */
  private def hllRegisters(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import graft.functions.TextFunctions.shingles
    val tok = Tables.spread(Tables.documents(spark, dir))
      .select(col("source"),
        explode(shingles(toks(col("text")), 3)).as("t"))
      .distinct()
    val regs = tok
      .select(col("source"),
        conv(substring(md5(col("t")), 1, 10), 16, 10).cast("long")
          .as("h"))
      .select(col("source"), expr("h div 4294967296").as("reg"),
        expr("h % 4294967296").as("rest"))
      .withColumn("rho", when(col("rest") === 0, lit(33))
        .otherwise(lit(33) - length(bin(col("rest")))))
      .groupBy(col("source"), col("reg")).agg(max(col("rho")).as("m"))
    (tok, regs)
  }

  /** DuckDB mirror of the corrected HLL estimate of q221 and q263 over
    * registers `mx` (256 registers; linear counting below 2.5·m). */
  private val SqlHllEstimate: String = """CASE WHEN 47072.71267120224 /
                             (SUM(power(2.0, -mx))
                               + CAST(256 - COUNT(*) AS DOUBLE)) <= 640.0
                             AND 256 - COUNT(*) > 0
                           THEN CAST(ROUND(256.0 * ln(256.0 /
                             CAST(256 - COUNT(*) AS DOUBLE))) AS BIGINT)
                           ELSE CAST(ROUND(47072.71267120224 /
                             (SUM(power(2.0, -mx))
                               + CAST(256 - COUNT(*) AS DOUBLE))) AS BIGINT)
                      END"""

  /** The `gi` CTE: the Gini coefficient in ppm from the `gn` numerator
    * (sign-safe integer division). */
  private val GiniCte: String = """gi AS (SELECT CAST(CASE WHEN gnum >= 0
                 THEN gnum * 1000000
                   // (CAST(n_src AS HUGEINT) * t_all)
                 ELSE -((-gnum) * 1000000
                   // (CAST(n_src AS HUGEINT) * t_all)) END AS BIGINT)
                 AS gini_ppm
               FROM gn)"""

  /** Per-document article rate in milli: the share of "the"/"a" tokens
    * · 1000. */
  private val SqlArticleScore: String = """CAST(len(list_filter(string_split(trim(text), ' '),
                   t -> t = 'the' OR t = 'a')) AS BIGINT) * 1000
                   // GREATEST(CAST(len(string_split(trim(text), ' '))
                     AS BIGINT), 1)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q158: rare-token exposure per source ----
    // Tokens in the BOTTOM DECILE of corpus doc-frequency are where
    // tokenizers fragment and models memorize; a source whose docs are
    // dense in them is an OOV/PII risk concentrator. Rarity is defined
    // RELATIVE to the corpus (rank by df ASC, keep the first
    // ⌈n_types/10⌉ types — a pure-integer cut, so the set is never
    // vacuously empty the way an absolute df=1 hapax rule is on a
    // closed synthetic vocabulary). Output per source: rare-token
    // occurrences owned and docs containing ≥1 rare token.
    //
    // 100 TB posture: (token → doc-count) partial/final agg, a
    // vocabulary-sized ranking window, then a semi-join of the rare set
    // (broadcast-sized by construction: |V|/10) back to per-doc rows.
    "q158_rare_token_exposure" -> QueryDef(
      build = (spark, dir) => {
        val ex = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            explode(array_distinct(toks(col("text")))).as("t"))
          .filter(length(col("t")) > 0)
        val df = ex.groupBy(col("t")).agg(count(lit(1)).as("n_docs_with"))
        val ranked = df.select(col("t"), col("n_docs_with"),
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n_docs_with").asc, col("t").asc))
            .cast(LongType).as("rnk"))
        val nTypes = df.agg(count(lit(1)).as("n_types"))
        val rare = ranked.crossJoin(broadcast(nTypes))
          .filter(col("rnk") * 10 <= col("n_types") + 9) // rnk <= ceil(n/10)
          .select(col("t"))
        val docsHit = ex.join(rare, Seq("t"), "left_semi")
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_rare_in_doc"))
        docsHit.groupBy(col("source"))
          .agg(sum(col("n_rare_in_doc")).as("rare_tokens"),
            count(lit(1)).as("docs_with_rare"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH ex AS (
          SELECT DISTINCT doc_id, source, t FROM (
            SELECT doc_id, source,
                   UNNEST(string_split(trim(text), ' ')) AS t
            FROM documents)
          WHERE len(t) > 0),
        df AS (
          SELECT t, COUNT(*) AS n_docs_with FROM ex GROUP BY t),
        ranked AS (
          SELECT t, ROW_NUMBER() OVER (ORDER BY n_docs_with ASC, t ASC)
                   AS rnk
          FROM df),
        nt AS (SELECT COUNT(*) AS n_types FROM df),
        rare AS (
          SELECT t FROM ranked CROSS JOIN nt WHERE rnk * 10 <= n_types + 9),
        hit AS (
          SELECT doc_id, source, COUNT(*) AS n_rare_in_doc
          FROM ex SEMI JOIN rare USING (t)
          GROUP BY 1, 2)
        SELECT source, CAST(SUM(n_rare_in_doc) AS BIGINT) AS rare_tokens,
               COUNT(*) AS docs_with_rare
        FROM hit GROUP BY source ORDER BY source""")),

    // ---- q159: marginal shingle novelty per source ----
    // "What does each source ADD?" — credit every distinct 3-gram
    // shingle to its FIRST source (min source name, deterministic), so
    // per-source novelty = shingles no earlier-ordered source contains.
    // The greedy-marginal view behind source selection: a source whose
    // novelty/total ratio is tiny is near-redundant with the mix before
    // it.
    //
    // 100 TB posture: (shingle-hash → min(source)) partial/final agg —
    // min() is the same map-side-collapsing shape as count, so hot
    // shingles never concentrate; novelty attribution is a second agg
    // over vocabulary-sized rows.
    "q159_source_novelty" -> QueryDef(
      build = (spark, dir) => {
        import graft.functions.TextFunctions.shingles
        val sh = Tables.spread(Tables.documents(spark, dir))
          .select(col("source"),
            explode(shingles(toks(col("text")), 3)).as("g"))
          .select(col("source"), xxhash64(col("g")).as("gh"))
          .distinct()
        val owned = sh.groupBy(col("gh"))
          .agg(min(col("source")).as("first_source"),
            count(lit(1)).as("n_sources"))
        val perSource = sh.groupBy(col("source"))
          .agg(count(lit(1)).as("distinct_shingles"))
        owned.groupBy(col("first_source").as("source"))
          .agg(count(lit(1)).as("novel_shingles"),
            count(when(col("n_sources") === 1, 1)).as("exclusive_shingles"))
          .join(perSource, "source")
          .select(col("source"), col("distinct_shingles"),
            col("novel_shingles"), col("exclusive_shingles"),
            expr("novel_shingles * 1000000 div distinct_shingles")
              .as("novelty_ppm"))
          .orderBy(col("source"))
      },
      oracle = Some(s"""
        $SourceShinglesCte,
        sh AS (
          -- grouping by the shingle STRING where Spark groups by its
          -- xxhash64: identical partitions (counts are hash-invariant),
          -- and DuckDB needs no shuffle-width trick
          SELECT DISTINCT source, g AS gh FROM (
            SELECT source, UNNEST(gs) AS g FROM sh0)),
        owned AS (
          SELECT gh, MIN(source) AS first_source, COUNT(*) AS n_sources
          FROM sh GROUP BY gh),
        per AS (
          SELECT source, COUNT(*) AS distinct_shingles
          FROM sh GROUP BY source)
        SELECT o.first_source AS source, per.distinct_shingles,
               COUNT(*) AS novel_shingles,
               COUNT(CASE WHEN o.n_sources = 1 THEN 1 END)
                 AS exclusive_shingles,
               COUNT(*) * 1000000 // per.distinct_shingles AS novelty_ppm
        FROM owned o JOIN per ON o.first_source = per.source
        GROUP BY 1, 2 ORDER BY source""")),

    // ---- q160: log2 length histogram per source ----
    // Doc length distribution in power-of-two buckets — the shape that
    // drives packing efficiency and truncation loss. The bucket is
    // length(bin(n)) = ⌊log2 n⌋ + 1: both engines render identical
    // minimal binary strings, so the bucketing is integer-exact with
    // no libm log anywhere.
    "q160_length_log2_histogram" -> QueryDef(
      build = (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("source"),
            size(toks(col("text"))).cast(LongType).as("n_tok"))
          .filter(col("n_tok") > 0)
          .select(col("source"), length(bin(col("n_tok"))).as("log2_bucket"),
            col("n_tok"))
          .groupBy(col("source"), col("log2_bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
            min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
          .orderBy(col("source"), col("log2_bucket")),
      oracle = Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
          FROM documents
          WHERE len(string_split(trim(text), ' ')) > 0)
        SELECT source, CAST(len(bin(n_tok)) AS INT) AS log2_bucket,
               COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens,
               MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok
        FROM d GROUP BY 1, 2 ORDER BY source, log2_bucket""")),

    // ---- q161: dedup reclaim accounting ----
    // The budget view of exact dedup: per source, total token mass vs
    // the mass after keep-one-per-distinct-text, and the inflation
    // ratio in ppm. The "how much disk/compute does dedup buy" number
    // that decides whether the dedup stage runs at all.
    //
    // 100 TB posture: group by (source, text-hash) with SUM/COUNT
    // partials — text itself never shuffles, and the per-group token
    // count rides the same agg (all copies of a text have equal token
    // counts, so keep-one mass = group mass div copies).
    "q161_dedup_reclaim" -> QueryDef(
      build = (spark, dir) => {
        val grp = Tables.documents(spark, dir)
          .select(col("source"), md5(col("text").cast(BinaryType)).as("h"),
            size(toks(col("text"))).cast(LongType).as("n_tok"))
          .groupBy(col("source"), col("h"))
          .agg(count(lit(1)).as("copies"), sum(col("n_tok")).as("mass"))
        grp.groupBy(col("source"))
          .agg(sum(col("mass")).as("total_tokens"),
            sum(expr("mass div copies")).as("kept_tokens"),
            sum(col("copies")).as("n_docs"),
            count(lit(1)).as("n_distinct"))
          .select(col("source"), col("n_docs"), col("n_distinct"),
            col("total_tokens"), col("kept_tokens"),
            (col("total_tokens") - col("kept_tokens")).as("reclaimed_tokens"),
            expr("total_tokens * 1000000 div kept_tokens").as("inflation_ppm"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH grp AS (
          SELECT source, md5(text) AS h, COUNT(*) AS copies,
                 CAST(SUM(CAST(len(string_split(trim(text), ' ')) AS BIGINT))
                   AS BIGINT) AS mass
          FROM documents GROUP BY 1, 2)
        SELECT source, CAST(SUM(copies) AS BIGINT) AS n_docs,
               COUNT(*) AS n_distinct,
               CAST(SUM(mass) AS BIGINT) AS total_tokens,
               CAST(SUM(mass // copies) AS BIGINT) AS kept_tokens,
               CAST(SUM(mass) - SUM(mass // copies) AS BIGINT)
                 AS reclaimed_tokens,
               CAST(SUM(mass) AS BIGINT) * 1000000
                 // CAST(SUM(mass // copies) AS BIGINT) AS inflation_ppm
        FROM grp GROUP BY source ORDER BY source""")),

    // ---- q162: dyadic-exact recency decay scoring ----
    // Exponential time-decay weighting of events (half-life 7 days)
    // with NO libm: the weight is the integer 1e6 ppm halved once per
    // whole 7-day age step — 1000000 >> k — so every weight is exact,
    // sums are exact integers, and both engines agree to the bit. Age
    // is measured back from the corpus max event time (data-derived,
    // not wall-clock). Output: per event_type, raw count vs decayed
    // mass — the recency-weighted activity ranking.
    //
    // 100 TB posture: the max-ts anchor is a 1-row agg broadcast back;
    // the weighting is map-side integer arithmetic feeding one
    // partial/final agg.
    "q162_recency_decay" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.events(spark, dir)
          .select(col("event_type"), unix_micros(col("ts")).as("us"))
        val anchor = e.agg(max(col("us")).as("max_us"))
        e.crossJoin(broadcast(anchor))
          .select(col("event_type"),
            expr("(max_us - us) div 604800000000").as("k"))
          // cap at 20: 1e6 < 2^20, so deeper halvings are 0 ppm anyway
          // and the shift stays in int range
          .select(col("event_type"),
            expr("1000000 div shiftleft(1, cast(least(k, 20) as int))")
              .as("w_ppm"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("w_ppm")).as("decayed_ppm"))
          .orderBy(col("event_type"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        anchor AS (SELECT MAX(us) AS max_us FROM e)
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(1000000 // (1 << CAST(LEAST(
                 (max_us - us) // 604800000000, 20) AS INT)))
                 AS BIGINT) AS decayed_ppm
        FROM e CROSS JOIN anchor
        GROUP BY event_type ORDER BY event_type""")),

    // ---- q163: source-pair shingle Jaccard matrix ----
    // Pairwise content overlap BETWEEN sources (q159 credits novelty to
    // the first source; this shows the full symmetric picture): Jaccard
    // over distinct 3-gram shingle sets per source pair, in integer ppm.
    //
    // 100 TB posture: the (source, shingle-hash) distinct stream has
    // ≤|sources| rows per shingle, so the self-join on the hash has
    // BOUNDED fan-out (≤ |sources|² per shingle, |sources| a handful) —
    // this is the all-pairs the doc-level operators must avoid, made
    // safe because one side of the cardinality is a constant.
    "q163_source_jaccard_matrix" -> QueryDef(
      build = (spark, dir) => {
        import graft.functions.TextFunctions.shingles
        val sh = Tables.spread(Tables.documents(spark, dir))
          .select(col("source"), explode(shingles(toks(col("text")), 3)).as("g"))
          .select(col("source"), xxhash64(col("g")).as("gh"))
          .distinct()
        val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val inter = sh.select(col("source").as("src_a"), col("gh"))
          .join(sh.select(col("source").as("src_b"), col("gh")), Seq("gh"))
          .filter(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_common"))
        inter
          .join(broadcast(sizes.select(col("source").as("src_a"),
            col("n").as("n_a"))), "src_a")
          .join(broadcast(sizes.select(col("source").as("src_b"),
            col("n").as("n_b"))), "src_b")
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            col("n_common"),
            expr("n_common * 1000000 div (n_a + n_b - n_common)")
              .as("jaccard_ppm"))
          .orderBy(col("src_a"), col("src_b"))
      },
      oracle = Some(s"""
        $SourceShinglesCte,
        sh AS (
          SELECT DISTINCT source, g FROM (
            SELECT source, UNNEST(gs) AS g FROM sh0)),
        sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
          GROUP BY 1, 2)
        SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
               n_common * 1000000 // (sa.n + sb.n - n_common) AS jaccard_ppm
        FROM inter
        JOIN sizes sa ON src_a = sa.source
        JOIN sizes sb ON src_b = sb.source
        ORDER BY src_a, src_b""")),

    // ---- q169: exact integer AUC (Mann-Whitney rank-sum) ----
    // The eval metric behind every binary quality filter, computed with
    // NO floating-point comparison anywhere — see [[rankSumAuc]] (the
    // shared kernel; q171 is the same kernel per class) and
    // [[l2QuantScore]] for the integer contract.
    "q169_exact_auc" -> QueryDef(
      build = (spark, dir) => {
        val s = Tables.embeddings(spark, dir)
          .select(l2QuantScore.as("score"),
            when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        rankSumAuc(s)
          .select(col("n_pos"), col("n_neg"), col("u2"), col("auc_ppm"))
      },
      oracle = Some(s"""
        ${sqlScored("")},
        g AS (
          SELECT score, CAST(SUM(pos) AS BIGINT) AS np,
                 CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn
          FROM s GROUP BY score),
        c AS (
          SELECT np, nn,
                 CAST(COALESCE(SUM(nn) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cumneg
          FROM g),
        t AS (
          SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
                 CAST(SUM(nn) AS BIGINT) AS n_neg,
                 CAST(SUM(np * cumneg * 2 + np * nn) AS BIGINT) AS u2
          FROM c)
        SELECT n_pos, n_neg, u2,
               (u2 * 1000000) // (2 * n_pos * n_neg) AS auc_ppm
        FROM t""")),

    // ---- q190: decile lift (gains table), integer-exact ----
    // The model-eval companion to q169's AUC: rank the population by
    // the quantized score, cut into 10 equal-count deciles, and report
    // how concentrated the positives are at the top — cumulative lift
    // in integer ppm ((cum_pos/cum_n)/(P/N), cross-multiplied before
    // ONE integer division, so no rational ever rounds). Ties in score
    // break by vec_id, so decile assignment is engine-identical.
    //
    // 100 TB posture: rn comes from the STAT-ROUTED `GlobalRank`
    // (round 9) — above the measured ~2M-row crossover the two-pass
    // form (score-keyed tie-break window + range-correlated sharded
    // offset table + keyed equijoin) keeps population rows off any
    // single partition; below it the one-window naive form wins by the
    // BASELINE "globalrank" table and is what this SF's data routes to.
    // Routing changes the plan, never the rows — the gate is green on
    // either route. The decile agg and cumulative windows run on 10 rows.
    "q190_decile_lift" -> QueryDef(
      build = (spark, dir) => {
        val s = Tables.embeddings(spark, dir)
          .select(col("vec_id"), l2QuantScore.as("score"),
            when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        val ranked = graft.operators.GlobalRank
          .withRankAndPrefixAuto(s, "score", "vec_id")._2.drop("cum")
        val tot = s.agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
        val wc = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranked.crossJoin(broadcast(tot))
          .withColumn("decile", expr("((rn - 1) * 10) div n + 1"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_d"), sum(col("pos")).as("pos_d"),
            max(col("n")).as("n"), max(col("p")).as("p"))
          .withColumn("cum_n", sum(col("n_d")).over(wc))
          .withColumn("cum_pos", sum(col("pos_d")).over(wc))
          .select(col("decile"), col("n_d"), col("pos_d"), col("cum_pos"),
            expr("(cum_pos * n * 1000000) div (cum_n * p)")
              .as("cum_lift_ppm"))
          .orderBy(col("decile"))
      },
      oracle = Some(s"""
        ${sqlScored("vec_id, ")},
        r AS (SELECT pos,
                     ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rn
              FROM s),
        t AS (SELECT COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS p FROM s),
        d AS (SELECT ((rn - 1) * 10) // n + 1 AS decile, pos, n, p
              FROM r CROSS JOIN t),
        g AS (SELECT decile, COUNT(*) AS n_d,
                     CAST(SUM(pos) AS BIGINT) AS pos_d,
                     MAX(n) AS n, MAX(p) AS p
              FROM d GROUP BY decile),
        c AS (SELECT decile, n_d, pos_d, n, p,
                     CAST(SUM(n_d) OVER w AS BIGINT) AS cum_n,
                     CAST(SUM(pos_d) OVER w AS BIGINT) AS cum_pos
              FROM g WINDOW w AS (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT decile, n_d, pos_d, cum_pos,
               (cum_pos * n * 1000000) // (cum_n * p) AS cum_lift_ppm
        FROM c ORDER BY decile""")),

    // ---- q195: Zipf slope of the bigram distribution per source ----
    // How "natural" is each source's token statistics? Natural-language
    // n-gram frequencies follow rank^(−s) with s ≈ 1; templated or
    // machine-generated text bends the curve. Per source: OLS slope of
    // ln(freq) on ln(rank) over the bigram rank-frequency table
    // (rank by count DESC with bigram tie-break ⇒ engine-identical
    // ranks). Determinism: ln terms rounded once at 9 dp per point
    // (continuous, the q112 class), the five regression sums
    // accumulated in exact decimal, ONE mirrored final division
    // rounded at 6 dp — the q135 grouped-OLS recipe on log-log axes.
    //
    // 100 TB posture: bigram counting is the map-side explode + keyed
    // partial agg every n-gram op here uses; the rank window runs at
    // |distinct bigrams per source| (vocabulary-, not corpus-, sized);
    // regression sums are one more keyed agg.
    "q195_zipf_slope" -> QueryDef(
      build = (spark, dir) => {
        val toks2 = Tables.documents(spark, dir)
          .select(col("source"), toks(col("text")).as("ts"))
          .filter(size(col("ts")) >= 2)
        val bi = toks2.select(col("source"),
            explode(expr(
              "transform(slice(ts, 1, size(ts) - 1), " +
                "(x, i) -> concat(x, ' ', element_at(ts, i + 2)))")).as("gram"))
          .groupBy(col("source"), col("gram"))
          .agg(count(lit(1)).as("c"))
        val ranked = bi.withColumn("r", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("c").desc, col("gram"))))
          .select(col("source"),
            round(log(col("r").cast(DoubleType)), 9).as("x"),
            round(log(col("c").cast(DoubleType)), 9).as("y"))
          .withColumn("xy", round(col("x") * col("y"), 9))
          .withColumn("xx", round(col("x") * col("x"), 9))
        ranked.groupBy(col("source"))
          .agg(count(lit(1)).as("n_grams"),
            sum(col("x").cast(DecimalType(28, 9))).cast(DoubleType).as("sx"),
            sum(col("y").cast(DecimalType(28, 9))).cast(DoubleType).as("sy"),
            sum(col("xy").cast(DecimalType(28, 9))).cast(DoubleType).as("sxy"),
            sum(col("xx").cast(DecimalType(28, 9))).cast(DoubleType).as("sxx"))
          .select(col("source"), col("n_grams"),
            round((col("n_grams") * col("sxy") - col("sx") * col("sy")) /
              (col("n_grams") * col("sxx") - col("sx") * col("sx")), 6)
              .as("zipf_slope"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH t AS (SELECT source, string_split(trim(text), ' ') AS ts
                   FROM documents),
        n AS (SELECT source, ts FROM t WHERE len(ts) >= 2),
        bg AS (SELECT source, ts[i] || ' ' || ts[i + 1] AS gram
               FROM (SELECT source, ts, unnest(range(1, len(ts))) AS i
                     FROM n)),
        bi AS (SELECT source, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        rk AS (SELECT source, c,
                      ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY c DESC, gram) AS r
               FROM bi),
        pt AS (SELECT source,
                      ROUND(LN(CAST(r AS DOUBLE)), 9) AS x,
                      ROUND(LN(CAST(c AS DOUBLE)), 9) AS y
               FROM rk),
        p2 AS (SELECT source, x, y,
                      ROUND(x * y, 9) AS xy, ROUND(x * x, 9) AS xx
               FROM pt),
        a AS (SELECT source, COUNT(*) AS n_grams,
                     CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
                     CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
                     CAST(SUM(CAST(xy AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
                     CAST(SUM(CAST(xx AS DECIMAL(28,9))) AS DOUBLE) AS sxx
              FROM p2 GROUP BY source)
        SELECT source, n_grams,
               ROUND((n_grams * sxy - sx * sy)
                 / (n_grams * sxx - sx * sx), 6) AS zipf_slope
        FROM a ORDER BY source"""))
    ,

    // ---- q200: global corpus data card ----
    // The one-row corpus summary a dataset release ships next to its
    // README (the global dual of q118's per-source cards): document,
    // token, vocabulary, dedup, event and embedding totals in one
    // place, every figure an exact integer. Each domain is touched
    // once: documents feed a token explode → two aggs (doc-level and
    // vocab-level), events and embeddings one agg each, stitched by
    // 1-row cross joins.
    "q200_corpus_data_card" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
        val docAgg = d.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          (count(lit(1)) - countDistinct(md5(col("text").cast("binary"))))
            .as("exact_dup_docs"))
        val tok = d.select(explode(toks(col("text"))).as("t"))
        val tokAgg = tok.agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("t")).as("n_vocab"))
        val evAgg = Tables.events(spark, dir).agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        val emAgg = Tables.embeddings(spark, dir).agg(
          count(lit(1)).as("n_vectors"),
          countDistinct(col("label")).as("n_classes"))
        docAgg.crossJoin(tokAgg).crossJoin(evAgg).crossJoin(emAgg)
      },
      oracle = Some("""
        WITH d AS (SELECT COUNT(*) AS n_docs,
                          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                          CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                          CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
                            AS exact_dup_docs
                   FROM documents),
        t AS (SELECT COUNT(*) AS n_tokens,
                     CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_vocab
              FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok
                    FROM documents)),
        e AS (SELECT COUNT(*) AS n_events,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events),
        v AS (SELECT COUNT(*) AS n_vectors,
                     CAST(COUNT(DISTINCT label) AS BIGINT) AS n_classes
              FROM embeddings)
        SELECT * FROM d CROSS JOIN t CROSS JOIN e CROSS JOIN v""")),

    // ---- q171: per-class one-vs-rest AUC, integer-exact ----
    // [[rankSumAuc]] — q169's kernel — swept over every label as the
    // positive class via a class-partitioned window (the per-class eval
    // view: which classes does the score separate?).
    "q171_per_class_auc" -> QueryDef(
      build = (spark, dir) => {
        val base = Tables.embeddings(spark, dir)
          .select(l2QuantScore.as("score"), col("label"))
        val classes = base.select(col("label").as("cls")).distinct()
        val s = base.crossJoin(classes)
          .select(col("cls"), col("score"),
            when(col("label") === col("cls"), 1L).otherwise(0L).as("pos"))
        rankSumAuc(s, "cls")
          .select(col("cls"), col("n_pos"), col("n_neg"), col("auc_ppm"))
          .orderBy(col("cls"))
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT $SqlL2QuantScore AS score,
                 label
          FROM embeddings),
        classes AS (SELECT DISTINCT label AS cls FROM base),
        s AS (
          SELECT cls, score,
                 CASE WHEN label = cls THEN 1 ELSE 0 END AS pos
          FROM base CROSS JOIN classes),
        g AS (
          SELECT cls, score, CAST(SUM(pos) AS BIGINT) AS np,
                 CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn
          FROM s GROUP BY cls, score),
        c AS (
          SELECT cls, np, nn,
                 CAST(COALESCE(SUM(nn) OVER (PARTITION BY cls ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cumneg
          FROM g),
        t AS (
          SELECT cls, CAST(SUM(np) AS BIGINT) AS n_pos,
                 CAST(SUM(nn) AS BIGINT) AS n_neg,
                 CAST(SUM(np * cumneg * 2 + np * nn) AS BIGINT) AS u2
          FROM c GROUP BY cls)
        SELECT cls, n_pos, n_neg,
               (u2 * 1000000) // (2 * n_pos * n_neg) AS auc_ppm
        FROM t ORDER BY cls""")),

    // ---- q172: per-user inter-arrival cadence, log2 histogram ----
    // The arrival-process shape behind capacity planning and bot
    // detection: per-user event gaps (event-time, µs), bucketed by
    // ⌊log2 gap_seconds⌋+1 via length(bin(s)) — the q160 no-libm trick
    // on the time axis — rolled up per event type of the LATER event.
    // Integer end-to-end.
    //
    // 100 TB posture: one user-keyed window (the sessionization
    // shuffle), then a partial/final (type, bucket) agg — gaps never
    // leave their user partition unaggregated.
    "q172_cadence_histogram" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        e.withColumn("gap_s",
            ((col("us") - lag(col("us"), 1).over(w)) / lit(1000000L))
              .cast(LongType))
          .filter(col("gap_s").isNotNull)
          .select(col("event_type"),
            when(col("gap_s") <= 0, lit(0))
              .otherwise(length(bin(col("gap_s")))).as("gap_log2_bucket"))
          .groupBy(col("event_type"), col("gap_log2_bucket"))
          .agg(count(lit(1)).as("n_gaps"))
          .orderBy(col("event_type"), col("gap_log2_bucket"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        g AS (
          SELECT event_type,
                 (us - lag(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id)) // 1000000 AS gap_s
          FROM e)
        SELECT event_type,
               CASE WHEN gap_s <= 0 THEN 0
                    ELSE CAST(len(bin(gap_s)) AS INT) END AS gap_log2_bucket,
               COUNT(*) AS n_gaps
        FROM g WHERE gap_s IS NOT NULL
        GROUP BY 1, 2 ORDER BY event_type, gap_log2_bucket""")),

    // ---- q173: per-source split-half drift (exact KS) ----
    // Data-quality monitoring per segment: within each source, compare
    // the token-length distribution of the doc_id-even half against the
    // odd half with q145's EXACT integer KS machinery — per-value ECDF
    // gap |cA·nB − cB·nA|, integer max per source, one final ppm
    // division. A stable generator should drift ~0; a pipeline change
    // that shifts one source's length profile shows up as that source's
    // D_ppm jumping.
    //
    // 100 TB posture: per-(source, length) tie collapse first (the
    // event-scale stage, partial/final), then source-partitioned
    // cumulative windows over DISTINCT lengths.
    "q173_split_half_drift" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("source"),
            size(toks(col("text"))).cast(LongType).as("len"),
            // source ≡ doc_id % 20 in the generator, so raw parity is
            // DEGENERATE (one empty half per source); (doc_id div 20) is
            // the row-within-source index and its parity splits every
            // source exactly in half
            when(expr("(doc_id div 20) % 2") === 0, 1L).otherwise(0L)
              .as("in_a"))
        val g = d.groupBy(col("source"), col("len"))
          .agg(sum(col("in_a")).as("ca"),
            (count(lit(1)) - sum(col("in_a"))).as("cb"))
        val w = Window.partitionBy(col("source")).orderBy(col("len"))
        val tot = d.groupBy(col("source"))
          .agg(sum(col("in_a")).as("na"),
            (count(lit(1)) - sum(col("in_a"))).as("nb"))
        g.select(col("source"), col("len"),
            sum(col("ca")).over(w).as("cuma"),
            sum(col("cb")).over(w).as("cumb"))
          .join(tot, "source")
          .select(col("source"), col("na"), col("nb"),
            abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("gap"))
          .groupBy(col("source"), col("na"), col("nb"))
          .agg(max(col("gap")).as("d_num"))
          .select(col("source"), col("na"), col("nb"), col("d_num"),
            expr("d_num * 1000000 div (na * nb)").as("d_ppm"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS len,
                 CASE WHEN (doc_id // 20) % 2 = 0 THEN 1 ELSE 0 END AS in_a
          FROM documents),
        g AS (
          SELECT source, len, CAST(SUM(in_a) AS BIGINT) AS ca,
                 CAST(COUNT(*) - SUM(in_a) AS BIGINT) AS cb
          FROM d GROUP BY 1, 2),
        tot AS (
          SELECT source, CAST(SUM(in_a) AS BIGINT) AS na,
                 CAST(COUNT(*) - SUM(in_a) AS BIGINT) AS nb
          FROM d GROUP BY 1),
        c AS (
          SELECT g.source,
                 CAST(SUM(ca) OVER (PARTITION BY g.source ORDER BY len
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
                 CAST(SUM(cb) OVER (PARTITION BY g.source ORDER BY len
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
          FROM g),
        m AS (
          SELECT c.source, tot.na, tot.nb,
                 CAST(MAX(ABS(cuma * tot.nb - cumb * tot.na)) AS BIGINT)
                   AS d_num
          FROM c JOIN tot ON c.source = tot.source
          GROUP BY 1, 2, 3)
        SELECT source, na, nb, d_num,
               d_num * 1000000 // (na * nb) AS d_ppm
        FROM m ORDER BY source""")),

    // ---- q167: sketch-guided exact heavy hitters ----
    // [[graft.operators.HeavyHitters]]: Count-Min candidate generation +
    // exact verification, over a deterministic Zipf domain (item
    // N div (id+1) — item v owns ≈ N/v − N/(v+1) rows, the harmonic
    // skew a hot-key distribution actually looks like; ~890 distinct
    // items at N = 200k, 7 true heavies at k = 50). The corpus tables
    // can't gate this operator honestly — their generators are uniform
    // (31 token types, all "heavy") — so the domain is constructed,
    // like q70's generator, identically in both engines from pure
    // integer arithmetic.
    //
    // The oracle is the PLAIN exact GROUP BY/HAVING: the hash match is
    // the certificate that the sketch phase changed the COST, not the
    // ANSWER (CMS over-estimates only ⇒ recall 1; exact verify kills
    // its false positives) — the same proof shape as q121's salting
    // and q113's prefix filter.
    "q167_heavy_hitters" -> QueryDef(
      build = (spark, dir) => {
        val n = 200000L
        val items = spark.range(n)
          .select(concat(lit("i"), expr(s"$n div (id + 1)")).as("item"))
        graft.operators.HeavyHitters.exact(items, "item", k = 50)
          .orderBy(col("cnt").desc, col("item"))
      },
      oracle = Some("""
        WITH items AS (
          SELECT 'i' || CAST(200000 // (id + 1) AS VARCHAR) AS item
          FROM range(200000) t(id))
        SELECT item, COUNT(*) AS cnt
        FROM items GROUP BY item
        HAVING COUNT(*) > 200000 // 50
        ORDER BY cnt DESC, item""")),

    // ---- q181: distinctive terms per source (log-odds, Dirichlet prior) ----
    // Monroe/Colaresi/Quinn "Fightin' Words": for each source, which
    // tokens are over-represented vs the REST of the corpus, scored by
    // the z-statistic of the log-odds-ratio delta with an informative
    // Dirichlet prior (α0 = 500 distributed ∝ global frequency). The
    // prior is what makes this the right tool over raw TF-IDF: rare
    // tokens get shrunk toward the corpus rate instead of dominating
    // the ranking by luck. Top-3 per source by (z DESC, token ASC).
    // Determinism: all counts exact integers; the z formula is a
    // mirrored double expression tree rounded ONCE at 6 dp (continuous
    // value — the q112 class); ordering uses the rounded z plus a full
    // token tie-break.
    //
    // 100 TB posture: token×source and global counts are partial→final
    // aggs; joins are vocabulary-sized keyed equijoins (the constant
    // |sources| and 1-row total broadcast); top-3 is a per-source
    // window over |vocab|·|sources| rows, far below corpus scale.
    "q181_distinctive_terms" -> QueryDef(
      build = (spark, dir) => {
        val tok = Tables.documents(spark, dir)
          .select(col("source"), explode(toks(col("text"))).as("t"))
        val bySrc = tok.groupBy(col("source"), col("t"))
          .agg(count(lit(1)).as("ysi"))
        val glob = tok.groupBy(col("t")).agg(count(lit(1)).as("yi"))
        val perSrc = tok.groupBy(col("source")).agg(count(lit(1)).as("stot"))
        val total = tok.agg(count(lit(1)).as("ntot"))
        val z = bySrc.join(glob, "t").join(perSrc, "source")
          .crossJoin(broadcast(total))
          .withColumn("ai", lit(500.0) * col("yi") / col("ntot"))
          .withColumn("yri", col("yi") - col("ysi"))
          .withColumn("nr", col("ntot") - col("stot"))
          .withColumn("z", round(
            (log((col("ysi") + col("ai")) /
                (col("stot") - col("ysi") + lit(500.0) - col("ai"))) -
              log((col("yri") + col("ai")) /
                (col("nr") - col("yri") + lit(500.0) - col("ai")))) /
              sqrt(lit(1.0) / (col("ysi") + col("ai")) +
                lit(1.0) / (col("yri") + col("ai"))), 6))
        z.withColumn("rn", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("z").desc, col("t").asc)))
          .filter(col("rn") <= 3)
          .select(col("source"), col("t").as("token"),
            col("ysi").as("n_in_source"), col("z"))
          .orderBy(col("source"), col("z").desc, col("token"))
      },
      oracle = Some("""
        WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS t
                     FROM documents),
        bs AS (SELECT source, t, COUNT(*) AS ysi FROM tok GROUP BY 1, 2),
        g AS (SELECT t, COUNT(*) AS yi FROM tok GROUP BY t),
        ps AS (SELECT source, COUNT(*) AS stot FROM tok GROUP BY source),
        nn AS (SELECT COUNT(*) AS ntot FROM tok),
        j AS (SELECT bs.source, bs.t, bs.ysi, ps.stot, nn.ntot,
                     500.0 * g.yi / nn.ntot AS ai,
                     g.yi - bs.ysi AS yri,
                     nn.ntot - ps.stot AS nr
              FROM bs JOIN g ON g.t = bs.t
                      JOIN ps ON ps.source = bs.source, nn),
        z AS (SELECT source, t, ysi,
                     ROUND((LN((ysi + ai) / (stot - ysi + 500.0 - ai))
                          - LN((yri + ai) / (nr - yri + 500.0 - ai)))
                       / SQRT(1.0 / (ysi + ai) + 1.0 / (yri + ai)), 6) AS z
              FROM j),
        r AS (SELECT source, t, ysi, z,
                     ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY z DESC, t) AS rn
              FROM z)
        SELECT source, t AS token, ysi AS n_in_source, z
        FROM r WHERE rn <= 3 ORDER BY source, z DESC, token""")),

    // ---- q207: mutual information of the (lang × source) table ----
    // The information-theoretic counterpart of q144's χ²: how many nats
    // does knowing a document's source tell you about its language?
    // Per-cell PMI ln(p(x,y)/(p(x)p(y))) quantized ONCE to integer
    // nano-nats (ln is the q112 continuous class — one 9-dp rounding,
    // mirrored expression trees), after which every downstream value —
    // the n_xy-weighted contribution and the corpus MI — is pure
    // integer arithmetic (`div` by N at the very end).
    //
    // 100 TB posture: one (lang, source)-keyed partial/final agg over
    // documents; margins and N are |langs|+|sources|+1 broadcast-sized
    // rows joined back to the cell table.
    "q207_mutual_information" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir).select(col("lang"), col("source"))
        val cells = d.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_xy"))
        val mx = d.groupBy(col("lang")).agg(count(lit(1)).as("n_x"))
        val my = d.groupBy(col("source")).agg(count(lit(1)).as("n_y"))
        val tot = d.agg(count(lit(1)).as("n"))
        val joined = cells
          .join(broadcast(mx), Seq("lang"))
          .join(broadcast(my), Seq("source"))
          .crossJoin(broadcast(tot))
          .withColumn("pmi_nano",
            round(log(col("n_xy").cast("double") * col("n").cast("double")
              / (col("n_x").cast("double") * col("n_y").cast("double")))
              * 1e9, 0).cast("long"))
        // total MI in nano-nats: integer-weighted sum over cells div N
        // (weighted sum accumulated in DECIMAL(38,0) — n_xy·pmi_nano
        // products pass long range around 1e12-row corpora)
        val total = joined
          .agg(sum(col("n_xy").cast(DecimalType(38, 0)) * col("pmi_nano"))
            .as("wsum"), max(col("n")).as("nn"))
          .select(expr("CAST(wsum div nn AS BIGINT)").as("total_mi_nano"))
        joined
          .crossJoin(broadcast(total))
          .select(col("lang"), col("source"), col("n_xy"),
            col("pmi_nano"), col("total_mi_nano"))
          .orderBy(col("lang"), col("source"))
      },
      oracle = Some("""
        WITH d AS (SELECT lang, source FROM documents),
        cells AS (SELECT lang, source, COUNT(*) AS n_xy
                  FROM d GROUP BY 1, 2),
        mx AS (SELECT lang, COUNT(*) AS n_x FROM d GROUP BY 1),
        my AS (SELECT source, COUNT(*) AS n_y FROM d GROUP BY 1),
        t AS (SELECT COUNT(*) AS n FROM d),
        j AS (SELECT c.lang, c.source, c.n_xy,
                     CAST(round(ln(CAST(c.n_xy AS DOUBLE) * CAST(t.n AS DOUBLE)
                       / (CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE)))
                       * 1e9) AS BIGINT) AS pmi_nano,
                     t.n
              FROM cells c
              JOIN mx ON mx.lang = c.lang
              JOIN my ON my.source = c.source
              CROSS JOIN t),
        tm AS (SELECT CAST(SUM(CAST(n_xy AS HUGEINT) * pmi_nano)
                 // MAX(n) AS BIGINT) AS total_mi_nano FROM j)
        SELECT j.lang, j.source, j.n_xy, j.pmi_nano, tm.total_mi_nano
        FROM j CROSS JOIN tm
        ORDER BY j.lang, j.source""")),

    // ---- q212: Heaps-law vocabulary growth curve + exponent ----
    // How fast does the vocabulary grow as the corpus grows? Natural
    // text follows Heaps' law V(N) ≈ K·N^β with β ≈ 0.4–0.6; templated
    // corpora saturate early. The curve is sampled WITHOUT any
    // corpus-ordered prefix scan: V(t) = tokens whose FIRST occurrence
    // (min doc_id — one keyed agg) falls before doc threshold t, and
    // N(t) = token mass below t — both conditional counts against a
    // broadcast 10-row threshold table (doc_id < 2^k, k = 3..12,
    // capped at the corpus size). β is the log-log OLS slope over the
    // sampled points (q195's recipe: ln rounded once at 9 dp, decimal
    // sums, one final division rounded at 6 dp).
    //
    // 100 TB posture: one token-level keyed agg (first occurrence) +
    // two broadcast-threshold conditional aggs; the regression runs on
    // <= 10 rows. No window ever sees corpus-scale data.
    "q212_heaps_law" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val thresholds = spark.range(1).select(explode(array(
          Seq(8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
            .map(lit): _*)).as("t"))
        val nd = docs.agg(count(lit(1)).as("n_docs_total"))
        val tdf = thresholds.crossJoin(broadcast(nd))
          .filter(col("t") <= col("n_docs_total")).select(col("t"))
        val firstDoc = docs
          .select(col("doc_id"), explode(split(trim(col("text")), " "))
            .as("token"))
          .groupBy(col("token")).agg(min(col("doc_id")).as("fd"))
        val vocab = firstDoc.crossJoin(broadcast(tdf))
          .filter(col("fd") < col("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("vocab"))
        val mass = docs
          .select(col("doc_id"),
            size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
          .crossJoin(broadcast(tdf))
          .filter(col("doc_id") < col("t"))
          .groupBy(col("t")).agg(sum(col("n_tok")).as("n_tokens"))
        val pts = vocab.join(mass, Seq("t"))
          .withColumn("x", round(log(col("n_tokens").cast(DoubleType)), 9))
          .withColumn("y", round(log(col("vocab").cast(DoubleType)), 9))
          .withColumn("xy", round(col("x") * col("y"), 9))
          .withColumn("xx", round(col("x") * col("x"), 9))
        val beta = pts.agg(count(lit(1)).as("k"),
            sum(col("x").cast(DecimalType(28, 9))).cast(DoubleType).as("sx"),
            sum(col("y").cast(DecimalType(28, 9))).cast(DoubleType).as("sy"),
            sum(col("xy").cast(DecimalType(28, 9))).cast(DoubleType).as("sxy"),
            sum(col("xx").cast(DecimalType(28, 9))).cast(DoubleType).as("sxx"))
          .select(round((col("k") * col("sxy") - col("sx") * col("sy")) /
            (col("k") * col("sxx") - col("sx") * col("sx")), 6)
            .as("heaps_beta"))
        pts.crossJoin(broadcast(beta))
          .select(col("t").as("doc_threshold"), col("n_tokens"),
            col("vocab"), col("heaps_beta"))
          .orderBy(col("doc_threshold"))
      },
      oracle = Some("""
        WITH th0 AS (SELECT * FROM (VALUES (8), (16), (32), (64), (128),
                       (256), (512), (1024), (2048), (4096)) v(t)),
        nd AS (SELECT COUNT(*) AS n FROM documents),
        th AS (SELECT CAST(t AS BIGINT) AS t FROM th0 CROSS JOIN nd
               WHERE t <= nd.n),
        fd AS (SELECT term, MIN(doc_id) AS fd
               FROM (SELECT doc_id,
                            unnest(string_split(trim(text), ' ')) AS term
                     FROM documents)
               GROUP BY term),
        vocab AS (SELECT th.t, COUNT(*) AS vocab
                  FROM fd CROSS JOIN th WHERE fd.fd < th.t GROUP BY th.t),
        mass AS (SELECT th.t,
                        CAST(SUM(CAST(len(string_split(trim(d.text), ' '))
                          AS BIGINT)) AS BIGINT) AS n_tokens
                 FROM documents d CROSS JOIN th
                 WHERE d.doc_id < th.t GROUP BY th.t),
        pts AS (SELECT v.t, m.n_tokens, v.vocab,
                       ROUND(LN(CAST(m.n_tokens AS DOUBLE)), 9) AS x,
                       ROUND(LN(CAST(v.vocab AS DOUBLE)), 9) AS y
                FROM vocab v JOIN mass m ON m.t = v.t),
        p2 AS (SELECT *, ROUND(x * y, 9) AS xy, ROUND(x * x, 9) AS xx
               FROM pts),
        b AS (SELECT COUNT(*) AS k,
                     CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
                     CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
                     CAST(SUM(CAST(xy AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
                     CAST(SUM(CAST(xx AS DECIMAL(28,9))) AS DOUBLE) AS sxx
              FROM p2),
        bb AS (SELECT ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
                 AS heaps_beta FROM b)
        SELECT p2.t AS doc_threshold, p2.n_tokens, p2.vocab, bb.heaps_beta
        FROM p2 CROSS JOIN bb
        ORDER BY doc_threshold""")),

    // ---- q214: quantile normalization of doc length across sources ----
    // The feature-engineering primitive that makes per-source quality
    // scores comparable before mixing: map each document's WITHIN-SOURCE
    // length rank onto the GLOBAL length distribution (the bioinformatics
    // quantile-normalization recipe), so every source ends up with the
    // same marginal distribution and a threshold like "drop the shortest
    // 10%" means the same thing everywhere. Mapping is integer-exact:
    // within-source rank r of n_s maps to the global value at rank
    // ((2r−1)·N) div (2·n_s) + 1 — the (r−0.5)/n_s quantile — with
    // (value DESC, doc_id) tie-breaks identical in both engines.
    //
    // 100 TB posture: within-source ranks are a source-keyed window;
    // the global rank table comes from the STAT-ROUTED `GlobalRank`
    // (two-pass above the ~2M-row crossover — no corpus-scale global
    // sort; naive below it, where one window wins — see q190); the
    // lookup is a keyed equijoin on the unique global rank; the rollup
    // is |sources| rows.
    "q214_quantile_normalize" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val ranked = graft.operators.GlobalRank
          .withRankAndPrefixAuto(docs, "n_chars", "doc_id")._2.drop("cum")
          .select(col("rn").as("g"), col("n_chars").as("norm_chars"))
        val ws = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        val wn = Window.partitionBy(col("source"))
        val tot = docs.agg(count(lit(1)).as("n"))
        val tgt = docs
          .withColumn("r", row_number().over(ws).cast(LongType))
          .withColumn("n_s", count(lit(1)).over(wn))
          .crossJoin(broadcast(tot))
          .withColumn("g", expr("((2*r - 1) * n) div (2 * n_s) + 1"))
        tgt.join(ranked, Seq("g"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(n_chars) div count(1)").as("mean_raw"),
            expr("sum(norm_chars) div count(1)").as("mean_norm"),
            min(col("norm_chars")).as("min_norm"),
            max(col("norm_chars")).as("max_norm"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        g AS (SELECT n_chars AS norm_chars,
                     ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS g
              FROM d),
        t AS (SELECT COUNT(*) AS n FROM d),
        s AS (SELECT doc_id, source, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS r,
                     COUNT(*) OVER (PARTITION BY source) AS n_s
              FROM d),
        m AS (SELECT source, n_chars,
                     ((2*r - 1) * n) // (2 * n_s) + 1 AS g
              FROM s CROSS JOIN t),
        j AS (SELECT source, n_chars, norm_chars FROM m JOIN g USING (g))
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) // COUNT(*) AS mean_raw,
               CAST(SUM(norm_chars) AS BIGINT) // COUNT(*) AS mean_norm,
               MIN(norm_chars) AS min_norm, MAX(norm_chars) AS max_norm
        FROM j GROUP BY source ORDER BY source""")),

    // ---- q220: greedy max-coverage source selection (submodular) ----
    // The coverage-based data-selection primitive: pick k sources that
    // together cover the most distinct trigram shingles — the greedy
    // (1−1/e)-approximation to the NP-hard max-coverage problem, the
    // standard recipe for "which corpora add the most new content?".
    // Four rounds; each round scores every remaining source by its
    // MARGINAL coverage (shingles not covered by earlier picks), takes
    // the argmax with a source-name tie-break, and adds its shingles
    // to the covered set. Deterministic: counts + lexicographic ties.
    //
    // 100 TB posture: the (source, shingle) support table is one
    // explode + distinct (q163's shape); each round is an anti-join
    // against the covered set (shingle-keyed) + a |sources| agg +
    // a 1-row argmax — k rounds, never any cross product; per-round
    // results are localCheckpoint'd (the q209 lineage discipline).
    "q220_greedy_coverage" -> QueryDef(
      build = (spark, dir) => {
        import graft.functions.TextFunctions.shingles
        val sh = Tables.spread(Tables.documents(spark, dir))
          .select(col("source"),
            explode(shingles(toks(col("text")), 3)).as("g"))
          .distinct()
        var selected = sh.select(col("source"), lit(0L).as("marginal"),
          lit(0).as("round")).limit(0)
        var covered = sh.select(col("g")).limit(0)
        for (r <- 1 to 4) {
          val marg = sh
            .join(selected.select(col("source")), Seq("source"), "left_anti")
            .join(covered, Seq("g"), "left_anti")
            .groupBy(col("source")).agg(count(lit(1)).as("marginal"))
          val top = marg.orderBy(col("marginal").desc, col("source"))
            .limit(1).select(col("source"), col("marginal"),
              lit(r).as("round")).localCheckpoint()
          selected = selected.unionByName(top)
          covered = covered
            .unionAll(sh.join(broadcast(top.select(col("source"))),
              Seq("source")).select(col("g")))
            .distinct().localCheckpoint()
        }
        val univ = sh.agg(countDistinct(col("g")).as("u"))
        val wr = Window.orderBy(col("round"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        selected.crossJoin(broadcast(univ))
          .withColumn("cum_covered", sum(col("marginal")).over(wr))
          .select(col("round"), col("source"), col("marginal"),
            col("cum_covered"),
            expr("(cum_covered * 1000000) div u").as("covered_ppm"))
          .orderBy(col("round"))
      },
      oracle = Some(s"""
        $SourceShinglesCte,
        sh AS (SELECT DISTINCT source, UNNEST(gs) AS g
               FROM sh0 WHERE len(gs) > 0),
        univ AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS u FROM sh),
        m1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS c
               FROM sh GROUP BY 1),
        s1 AS (SELECT source, c FROM m1 ORDER BY c DESC, source LIMIT 1),
        c1 AS (SELECT DISTINCT g FROM sh JOIN s1 USING (source)),
        m2 AS (SELECT sh.source, CAST(COUNT(*) AS BIGINT) AS c FROM sh
               WHERE sh.source NOT IN (SELECT source FROM s1)
                 AND sh.g NOT IN (SELECT g FROM c1)
               GROUP BY 1),
        s2 AS (SELECT source, c FROM m2 ORDER BY c DESC, source LIMIT 1),
        c2 AS (SELECT g FROM c1
               UNION SELECT g FROM sh JOIN s2 USING (source)),
        m3 AS (SELECT sh.source, CAST(COUNT(*) AS BIGINT) AS c FROM sh
               WHERE sh.source NOT IN (SELECT source FROM s1
                       UNION ALL SELECT source FROM s2)
                 AND sh.g NOT IN (SELECT g FROM c2)
               GROUP BY 1),
        s3 AS (SELECT source, c FROM m3 ORDER BY c DESC, source LIMIT 1),
        c3 AS (SELECT g FROM c2
               UNION SELECT g FROM sh JOIN s3 USING (source)),
        m4 AS (SELECT sh.source, CAST(COUNT(*) AS BIGINT) AS c FROM sh
               WHERE sh.source NOT IN (SELECT source FROM s1
                       UNION ALL SELECT source FROM s2
                       UNION ALL SELECT source FROM s3)
                 AND sh.g NOT IN (SELECT g FROM c3)
               GROUP BY 1),
        s4 AS (SELECT source, c FROM m4 ORDER BY c DESC, source LIMIT 1),
        sel AS (SELECT 1 AS round, source, c FROM s1
                UNION ALL SELECT 2, source, c FROM s2
                UNION ALL SELECT 3, source, c FROM s3
                UNION ALL SELECT 4, source, c FROM s4),
        cum AS (SELECT round, source, c AS marginal,
                       CAST(SUM(c) OVER (ORDER BY round
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum_covered
                FROM sel)
        SELECT round, source, marginal, cum_covered,
               (cum_covered * 1000000) // u AS covered_ppm
        FROM cum CROSS JOIN univ ORDER BY round""")),

    // ---- q221: portable HyperLogLog distinct-token estimate ----
    // The cardinality sketch, built from relational primitives with
    // ENGINE-EXACT parity — unlike q28's built-in approx sketches
    // (rows-only check), this one hash-matches the oracle bit for bit:
    // register = top 8 bits of the md5-derived 40-bit token hash,
    // rho = leading-zero rank of the low 32 bits via length(bin(x))
    // (identical no-leading-zeros semantics in both engines), estimate
    // = alpha·m²/Σ2^(−M_j) with the alpha·m² product embedded as ONE
    // double literal and every 2^(−M) term a dyadic rational — the
    // whole float pipeline is exact, so Spark and DuckDB agree on
    // every bit, including the small-range linear-counting branch.
    // Output reports the exact distinct count next to the estimate
    // with its signed error in ppm.
    //
    // 100 TB posture: this is THE mergeable distinct sketch — the
    // (source, register) max-agg is one keyed partial/final agg
    // (shuffle = |sources|·256 rows whatever the corpus size), and
    // register maxima merge associatively across any partitioning;
    // the exact count sits beside it as the gate's ground truth.
    "q221_portable_hll" -> QueryDef(
      build = (spark, dir) => {
        val (tok, regs) = hllRegisters(spark, dir)
        val hll = regs.groupBy(col("source"))
          .agg(count(lit(1)).as("present"),
            sum(pow(lit(2.0), -col("m"))).as("s_present"))
          .withColumn("s",
            col("s_present") + (lit(256L) - col("present")).cast("double"))
          .withColumn("v", lit(256L) - col("present"))
          .withColumn("e_raw", lit(47072.71267120224) / col("s"))
          .withColumn("n_hll",
            when(col("e_raw") <= 640.0 && col("v") > 0,
              round(lit(256.0) * log(lit(256.0) / col("v").cast("double"))))
            .otherwise(round(col("e_raw"))).cast("long"))
        val ex = tok.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
        ex.join(hll.select(col("source"), col("n_hll")), Seq("source"))
          .select(col("source"), col("n_exact"), col("n_hll"),
            expr("((n_hll - n_exact) * 1000000) div n_exact").as("err_ppm"))
          .orderBy(col("source"))
      },
      oracle = Some(s"""
        $SourceShinglesCte,
        tok AS (SELECT DISTINCT source, UNNEST(gs) AS t
                FROM sh0 WHERE len(gs) > 0),
        h AS (SELECT source,
                     ('0x' || substr(md5(t), 1, 10))::BIGINT AS h
              FROM tok),
        r AS (SELECT source, h // 4294967296 AS reg,
                     h % 4294967296 AS rest FROM h),
        r2 AS (SELECT source, reg,
                      CASE WHEN rest = 0 THEN 33
                           ELSE 33 - length(bin(rest)) END AS rho
               FROM r),
        m AS (SELECT source, reg, MAX(rho) AS mx FROM r2 GROUP BY 1, 2),
        a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS present,
                     SUM(power(2.0, -mx)) AS s_present
              FROM m GROUP BY 1),
        e AS (SELECT source,
                     s_present + CAST(256 - present AS DOUBLE) AS s,
                     256 - present AS v
              FROM a),
        f AS (SELECT source, v, 47072.71267120224 / s AS e_raw FROM e),
        g AS (SELECT source,
                     CASE WHEN e_raw <= 640.0 AND v > 0
                          THEN CAST(ROUND(256.0 * ln(256.0 /
                            CAST(v AS DOUBLE))) AS BIGINT)
                          ELSE CAST(ROUND(e_raw) AS BIGINT) END AS n_hll
              FROM f),
        ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
               FROM tok GROUP BY 1)
        SELECT ex.source, ex.n_exact, g.n_hll,
               ((g.n_hll - ex.n_exact) * 1000000) // ex.n_exact AS err_ppm
        FROM ex JOIN g ON g.source = ex.source
        ORDER BY ex.source""")),

    // ---- q236: isotonic calibration (fixed-point PAV) ----
    // The classifier-calibration step every scored-filter pipeline runs
    // before thresholding (q233 trains a model; THIS turns its raw
    // scores into usable probabilities): bin the population into 20
    // equal-width score bins and fit the monotone (isotonic) positive
    // rate by pool-adjacent-violators, computed via the minimax closed
    // form fitted(k) = max_{i<=k} min_{j>=k} rate(i..j) — exact PAV on
    // the bin table. Rates are integer ppm (truncating div, mirrored),
    // so the fit is bit-deterministic in both engines; the output
    // carries raw vs fitted ppm per bin (fitted is non-decreasing by
    // construction — the calibration curve).
    //
    // 100 TB posture: ONE corpus pass (min/max broadcast + the binned
    // count agg); the PAV minimax runs on the 20-row bin table — the
    // i×k×j expansion is ≤ 20³ rows of driver-adjacent arithmetic, a
    // constant independent of corpus size.
    "q236_isotonic_calibration" -> QueryDef(
      build = (spark, dir) => {
        val s = Tables.embeddings(spark, dir)
          .select(l2QuantScore.as("score"),
            when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        val ext = s.agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
        val b = s.crossJoin(broadcast(ext))
          .withColumn("bin", expr("((score - mn) * 20) div (mx - mn + 1) + 1"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
        val w = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = b
          .withColumn("cn", sum(col("n")).over(w))
          .withColumn("cp", sum(col("p")).over(w))
        val lo = cum.select(col("bin").as("i"),
          (col("cn") - col("n")).as("cn0"), (col("cp") - col("p")).as("cp0"))
        val hi = cum.select(col("bin").as("j"),
          col("cn").as("cnj"), col("cp").as("cpj"))
        val pairs = lo.crossJoin(hi).filter(col("i") <= col("j"))
          .select(col("i"), col("j"),
            expr("((cpj - cp0) * 1000000) div (cnj - cn0)").as("ppm"))
        val fitted = pairs
          .crossJoin(b.select(col("bin").as("k")))
          .filter(col("i") <= col("k") && col("k") <= col("j"))
          .groupBy(col("i"), col("k")).agg(min(col("ppm")).as("mn_ppm"))
          .groupBy(col("k")).agg(max(col("mn_ppm")).as("fitted_ppm"))
        b.join(fitted, col("bin") === col("k"))
          .select(col("bin"), col("n"), col("p").as("n_pos"),
            expr("(p * 1000000) div n").as("raw_ppm"), col("fitted_ppm"))
          .orderBy(col("bin"))
      },
      oracle = Some(s"""
        ${sqlScored("")},
        ext AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM s),
        b AS (SELECT ((score - mn) * 20) // (mx - mn + 1) + 1 AS bin,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(pos) AS BIGINT) AS p
              FROM s CROSS JOIN ext GROUP BY 1),
        c AS (SELECT bin, n, p,
                     CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                     CAST(SUM(p) OVER (ORDER BY bin) AS BIGINT) AS cp
              FROM b),
        pr AS (SELECT lo.bin AS i, hi.bin AS j,
                      ((hi.cp - (lo.cp - lo.p)) * 1000000)
                        // (hi.cn - (lo.cn - lo.n)) AS ppm
               FROM c lo, c hi WHERE lo.bin <= hi.bin),
        tr AS (SELECT pr.i, k.bin AS k, MIN(pr.ppm) AS mn_ppm
               FROM pr, b k WHERE pr.i <= k.bin AND k.bin <= pr.j
               GROUP BY 1, 2),
        f AS (SELECT k, CAST(MAX(mn_ppm) AS BIGINT) AS fitted_ppm
              FROM tr GROUP BY 1)
        SELECT b.bin, b.n, b.p AS n_pos, (b.p * 1000000) // b.n AS raw_ppm,
               f.fitted_ppm
        FROM b JOIN f ON f.k = b.bin ORDER BY b.bin""")),

    // ---- q240: average precision (AP), fixed-point ----
    // The ranking-eval metric the retrieval/classifier suite still
    // lacked: q169's AUC weights every negative pair equally, nDCG
    // (q224) grades one query's top-10 — AP is the area under the
    // precision-recall curve, the metric that matches "how good is this
    // ranking as a FILTER" (precision averaged at each positive's
    // rank). Fixed point: per positive at global rank k with c
    // positives at or above it, term = (c·1e6) div k; AP = Σterm div P
    // (mirrored truncating integer arithmetic — deterministic, like
    // q106/q233). The random-ranking baseline (P·1e6 div n) rides along
    // for calibration.
    //
    // 100 TB posture: BOTH rank tables (global rank of every row; rank
    // among positives) come from the stat-routed GlobalRank — naive
    // window below the measured ~2M crossover (these SFs), two-pass
    // sharded above; the final reduction is one row.
    "q240_average_precision" -> QueryDef(
      build = (spark, dir) => {
        val s = Tables.embeddings(spark, dir)
          .select(col("vec_id"), l2QuantScore.as("score"),
            when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        val ranked = graft.operators.GlobalRank
          .withRankAndPrefixAuto(s, "score", "vec_id")._2
          .drop("cum").withColumnRenamed("rn", "k")
        val posRanked = graft.operators.GlobalRank
          .withRankAndPrefixAuto(
            ranked.filter(col("pos") === 1L), "score", "vec_id")._2
          .drop("cum").withColumnRenamed("rn", "c")
        val tot = s.agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
        posRanked
          .select(expr("(c * 1000000) div k").as("term"))
          .agg(sum(col("term")).as("tsum"))
          .crossJoin(broadcast(tot))
          .select(col("n"), col("p").as("n_pos"),
            expr("tsum div p").as("ap_ppm"),
            expr("(p * 1000000) div n").as("random_ppm"))
      },
      oracle = Some(s"""
        ${sqlScored("vec_id, ")},
        r AS (SELECT pos,
                     ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS k,
                     CAST(SUM(pos) OVER (ORDER BY score DESC, vec_id)
                       AS BIGINT) AS c
              FROM s),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(pos) AS BIGINT) AS p FROM s),
        terms AS (SELECT (c * 1000000) // k AS term FROM r WHERE pos = 1)
        SELECT t.n, t.p AS n_pos,
               CAST(SUM(term) AS BIGINT) // t.p AS ap_ppm,
               (t.p * 1000000) // t.n AS random_ppm
        FROM terms CROSS JOIN t GROUP BY t.n, t.p""")),

    // ---- q244: exact F1-maximizing threshold ----
    // The operating-point selection that follows calibration (q236) and
    // AP (q240): sweep every cut depth k of the score ranking and pick
    // the one maximizing F1 = 2·TP/(P + k) exactly. Between positives c
    // is constant while k grows, so F1 only peaks AT a positive row —
    // the sweep therefore evaluates P candidates, not n. F1 compares as
    // a RAW double (2.0·c/(P+k) — an IEEE division of exact integers,
    // bit-identical across engines, the q222 precedent) with a k
    // tie-break; the reported f1_ppm is the display-friendly integer
    // form.
    //
    // 100 TB posture: the two rank tables come from the stat-routed
    // GlobalRank (q240's shape); the argmax is a TakeOrdered(1) over
    // the P-row positive table — no full sort, one output row.
    "q244_f1_threshold" -> QueryDef(
      build = (spark, dir) => {
        val s = Tables.embeddings(spark, dir)
          .select(col("vec_id"), l2QuantScore.as("score"),
            when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        val ranked = graft.operators.GlobalRank
          .withRankAndPrefixAuto(s, "score", "vec_id")._2
          .drop("cum").withColumnRenamed("rn", "k")
        val posRanked = graft.operators.GlobalRank
          .withRankAndPrefixAuto(
            ranked.filter(col("pos") === 1L), "score", "vec_id")._2
          .drop("cum").withColumnRenamed("rn", "c")
        val tot = s.agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
        posRanked.crossJoin(broadcast(tot))
          .withColumn("f1", lit(2.0d) * col("c") / (col("p") + col("k")))
          .orderBy(col("f1").desc, col("k"))
          .limit(1)
          .select(col("k").as("best_k"), col("score").as("threshold_score"),
            col("c").as("tp"), (col("k") - col("c")).as("fp"),
            (col("p") - col("c")).as("fn"),
            expr("(2 * c * 1000000) div (p + k)").as("f1_ppm"))
      },
      oracle = Some(s"""
        ${sqlScored("vec_id, ")},
        r AS (SELECT score, pos,
                     ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS k,
                     CAST(SUM(pos) OVER (ORDER BY score DESC, vec_id)
                       AS BIGINT) AS c
              FROM s),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(pos) AS BIGINT) AS p FROM s)
        SELECT r.k AS best_k, r.score AS threshold_score,
               r.c AS tp, r.k - r.c AS fp, t.p - r.c AS fn,
               (2 * r.c * 1000000) // (t.p + r.k) AS f1_ppm
        FROM r CROSS JOIN t
        WHERE r.pos = 1
        ORDER BY 2.0 * r.c / (t.p + r.k) DESC, r.k
        LIMIT 1""")),

    // ---- q245: 1-D Wasserstein (earth-mover) distance per source ----
    // The mixture-design companion to q173's KS: KS is the SUP of the
    // ECDF gap (one bad point dominates), W₁ is its L1 — the total
    // probability mass × distance you'd have to MOVE to turn a source's
    // length distribution into the corpus-wide one, which is the
    // quantity reweighting actually pays. In 1-D, W₁ = Σ_k |F_src(v_k)
    // − F_all(v_k)| · (v_{k+1} − v_k) over the global support — EXACT
    // integers after cross-multiplying the two ECDFs (|c_src·N −
    // c_all·n_src| · Δv, one ppm division at the end). The last support
    // point contributes 0 by construction (both CDFs reach 1).
    //
    // 100 TB posture: the corpus-scale stages are two keyed aggs
    // ((source, value) counts and value counts); the support grid is
    // |sources| × |distinct values| POST-aggregation rows, cumulated by
    // source-keyed windows — value cardinality bounds it, not corpus
    // size.
    "q245_wasserstein_drift" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("source"), col("n_chars").as("v"))
        val sl = d.groupBy(col("source"), col("v"))
          .agg(count(lit(1)).as("c"))
        val sup = d.groupBy(col("v")).agg(count(lit(1)).as("cg"))
        val wAll = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val supc = sup
          .withColumn("ca", sum(col("cg")).over(wAll))
          .withColumn("vn", lead(col("v"), 1).over(Window.orderBy(col("v"))))
        val srcs = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
        val tot = d.agg(count(lit(1)).as("nt"))
        val grid = srcs.crossJoin(broadcast(supc.select(col("v"),
            col("ca"), col("vn"))))
          .join(sl, Seq("source", "v"), "left")
          .na.fill(0L, Seq("c"))
        val wSrc = Window.partitionBy(col("source")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid
          .withColumn("cs", sum(col("c")).over(wSrc))
          .crossJoin(broadcast(tot))
          .filter(col("vn").isNotNull)
          .select(col("source"), col("ns"), col("nt"),
            (abs(col("cs") * col("nt") - col("ca") * col("ns")) *
              (col("vn") - col("v"))).as("term"))
          .groupBy(col("source"))
          .agg(max(col("ns")).as("n_docs"),
            expr("(sum(term) * 1000000) div (max(ns) * max(nt))")
              .as("w1_ppm"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH d AS (SELECT source, n_chars AS v FROM documents),
        sl AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
               FROM d GROUP BY 1, 2),
        sup AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cg
                FROM d GROUP BY 1),
        supc AS (SELECT v,
                        CAST(SUM(cg) OVER (ORDER BY v) AS BIGINT) AS ca,
                        LEAD(v, 1) OVER (ORDER BY v) AS vn
                 FROM sup),
        srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
                 FROM d GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM d),
        grid AS (SELECT srcs.source, srcs.ns, supc.v, supc.ca, supc.vn,
                        COALESCE(sl.c, 0) AS c
                 FROM srcs CROSS JOIN supc
                 LEFT JOIN sl ON sl.source = srcs.source AND sl.v = supc.v),
        cum AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY source
                          ORDER BY v) AS BIGINT) AS cs
                FROM grid)
        SELECT source, MAX(ns) AS n_docs,
               (CAST(SUM(ABS(cs * nt - ca * ns) * (vn - v)) AS BIGINT)
                 * 1000000) // (MAX(ns) * MAX(nt)) AS w1_ppm
        FROM cum CROSS JOIN tot
        WHERE vn IS NOT NULL
        GROUP BY source ORDER BY source""")),

    // ---- q255: AMS F2 sketch audit (self-join-size estimation) ----
    // The third estimator certificate (HLL cardinality q221, MinHash
    // similarity q252 — now Alon–Matias–Szegedy '96 second moment):
    // F2 = Σ f_b² of the corpus bigram frequencies IS the self-join
    // size on the bigram key — the statistic a distributed optimizer
    // needs to size a shuffle join before running it. 16 AMS
    // replicates, sign_r(b) = ±1 from hex digit r of md5(b) (engine-
    // portable), each X_r = Σ sign·f computed in ONE agg pass (all 16
    // sums in one projection); est_r = X_r², the median replicate
    // flagged (rank 8 by (est, r) — a deterministic median rule).
    // E[X²] = F2 exactly; per-replicate sd = √2·F2 ≈ 141% and the
    // median concentrates — the per-replicate err_ppm column is the
    // measured evidence.
    //
    // 100 TB posture: one shuffle on the bigram key (the same agg any
    // token count needs), then 16 sums over the bounded distinct table
    // in one pass; the report is 16 rows.
    "q255_ams_f2_audit" -> QueryDef(
      build = (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(split(trim(col("text")), " ").as("t"))
          .filter(size(col("t")) >= 2)
        val cnt = toks
          .select(explode(expr(
            "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))"))
            .as("b"))
          .groupBy(col("b")).agg(count(lit(1)).as("f"))
          .localCheckpoint(false)
        val exact = cnt.agg(sum(expr("f * f")).as("exact_f2"))
        val sums = (1 to 16).map(r => sum(expr(
          s"CASE WHEN CAST(conv(substring(md5(CAST(b AS BINARY)), $r, 1), " +
            s"16, 10) AS INT) >= 8 THEN f ELSE -f END")).as(s"x$r"))
        val xs = cnt.agg(sums.head, sums.tail: _*)
        xs.select(posexplode(array(
            (1 to 16).map(r => expr(s"x$r * x$r")): _*)).as(Seq("ri", "est_f2")))
          .select((col("ri") + 1).cast("long").as("r"), col("est_f2"))
          .crossJoin(broadcast(exact))
          .withColumn("err_ppm",
            expr("abs(est_f2 - exact_f2) * 1000000 div exact_f2"))
          .withColumn("is_median",
            row_number().over(Window.orderBy(col("est_f2"), col("r"))) === 8)
          .select(col("r"), col("est_f2"), col("exact_f2"), col("err_ppm"),
            col("is_median"))
          .orderBy(col("r"))
      },
      oracle = Some(amsOracle)),

    // ---- q257: quantile-sketch audit (bottom-k priority sample) ----
    // The FOURTH estimator certificate (cardinality q221, similarity
    // q252, second moment q255 — now quantiles, the statistic AQE and
    // range partitioners consume): a bottom-k sample by md5 row
    // priority IS a uniform k-subset chosen independently of
    // partitioning (the hash decides, not arrival order), and it is
    // MERGEABLE — bottom-k of a union = bottom-k of per-partition
    // bottom-ks, which is exactly Spark's TakeOrderedAndProject
    // physical form: per-partition partial top-k, driver merge, the
    // corpus never shuffles. Deciles interpolated from the k=256
    // sample are audited against the EXACT interpolated deciles
    // (computed distributed via the stat-routed GlobalRank — never a
    // population single-partition sort above the measured crossover).
    // The theory bounds the RANK of the estimate, not its value:
    // sd = √(q(1−q)/k) ≈ 1.9–3.1% of n at k=256. `rank_err_ppm` (the
    // measured |F(est) − q|, one broadcast probe pass) is the
    // certificate column that must sit in that band; `err_ppm` (value
    // error) is reported too but is distribution-dependent — sparse
    // tails turn small rank errors into large value errors, which the
    // sf0.1 report shows honestly at d=1.
    //
    // 100 TB posture: the sketch path (the product) is one
    // TakeOrdered over the scan — no shuffle at all; the exact side
    // (the audit) pays the two-pass rank only when n exceeds the
    // router crossover. All arithmetic integer (cents ×10 tenths).
    "q257_quantile_sketch_audit" -> QueryDef(
      build = (spark, dir) => {
        val k = 256
        val li = Tables.lineitem(spark, dir).select(
          (col("l_orderkey") * 10 + col("l_linenumber")).cast(LongType).as("id"),
          round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
          md5(concat_ws("_", col("l_orderkey").cast(StringType),
            col("l_linenumber").cast(StringType)).cast(BinaryType)).as("pri"))
        // sketch: bottom-k by hash priority — TakeOrderedAndProject.
        val sampArr = li.orderBy(col("pri")).limit(k)
          .agg(sort_array(collect_list(col("cents"))).as("arr"))
        // exact: distributed desc rank rn; ascending 0-based index
        // i = n − rn (value-at-index is tie-safe: equal cents ⇒ equal
        // value at every tied index).
        val n = li.count()
        val (_, ranked0) = graft.operators.GlobalRank.withRankAndPrefixAuto(
          li.select(col("id"), col("cents")), "cents", "id",
          rowCount = Some(n))
        val ranked = ranked0.select(col("cents"), (lit(n) - col("rn")).as("i"))
        val deciles = spark.range(1, 10).select(col("id").as("d"))
          .withColumn("pos10", lit(n - 1) * col("d"))
          .withColumn("i0", expr("pos10 div 10"))
          .withColumn("rem", col("pos10") % 10)
        val ex0 = ranked.join(broadcast(deciles), col("i") === col("i0"))
          .select(col("d"), col("rem"), col("cents").as("v0"))
        val ex1 = ranked.join(
            broadcast(deciles.select(col("d"), (col("i0") + 1).as("i1"))),
            col("i") === col("i1"))
          .select(col("d"), col("cents").as("v1"))
        val exact = ex0.join(ex1, Seq("d"))
          .withColumn("exact_x10",
            col("v0") * (lit(10L) - col("rem")) + col("v1") * col("rem"))
        val est = exact.crossJoin(broadcast(sampArr))
          .withColumn("spos10", lit((k - 1).toLong) * col("d"))
          .withColumn("si0", expr("spos10 div 10"))
          .withColumn("srem", col("spos10") % 10)
          .withColumn("est_x10",
            element_at(col("arr"), (col("si0") + 1).cast("int")) *
              (lit(10L) - col("srem")) +
            element_at(col("arr"), (col("si0") + 2).cast("int")) * col("srem"))
          .select(col("d"), col("est_x10"), col("exact_x10"))
          .localCheckpoint(false)
        // rank certificate: F(est) via one broadcast probe pass.
        val ranksOfEst = li.crossJoin(broadcast(est.select(col("d"),
            col("est_x10").as("e"))))
          .groupBy(col("d"))
          .agg(sum(when(col("cents") * 10 <= col("e"), 1L).otherwise(0L))
            .as("cnt_le"))
        est.join(ranksOfEst, Seq("d"))
          .select(col("d"), lit(n).as("n"), lit(k.toLong).as("k"),
            col("est_x10"), col("exact_x10"),
            expr("abs(est_x10 - exact_x10) * 1000000 div exact_x10")
              .as("err_ppm"),
            expr(s"abs(cnt_le * 10 - ${n}L * d) * 100000 div ${n}L")
              .as("rank_err_ppm"))
          .orderBy(col("d"))
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey * 10 + l_linenumber AS id,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
                 md5(CAST(l_orderkey AS VARCHAR) || '_' ||
                     CAST(l_linenumber AS VARCHAR)) AS pri
          FROM lineitem),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM li),
        samp AS (SELECT cents FROM li ORDER BY pri LIMIT 256),
        sarr AS (SELECT list_sort(list(cents)) AS arr FROM samp),
        ranked AS (SELECT cents,
                          ROW_NUMBER() OVER (ORDER BY cents, id) - 1 AS i
                   FROM li),
        d AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS d),
        t AS (SELECT d.d, (nn.n - 1) * d.d // 10 AS i0,
                     (nn.n - 1) * d.d % 10 AS rem, nn.n AS n
              FROM d CROSS JOIN nn),
        ex AS (SELECT t.d, t.n,
                      r0.cents * (10 - t.rem) + r1.cents * t.rem AS exact_x10
               FROM t JOIN ranked r0 ON r0.i = t.i0
                      JOIN ranked r1 ON r1.i = t.i0 + 1),
        est AS (SELECT ex.d, ex.n, ex.exact_x10,
                       arr[CAST(255 * ex.d // 10 AS INT) + 1]
                         * (10 - 255 * ex.d % 10) +
                       arr[CAST(255 * ex.d // 10 AS INT) + 2]
                         * (255 * ex.d % 10) AS est_x10
                FROM ex CROSS JOIN sarr),
        rk AS (SELECT e.d,
                      CAST(SUM(CASE WHEN li.cents * 10 <= e.est_x10
                        THEN 1 ELSE 0 END) AS BIGINT) AS cnt_le
               FROM li CROSS JOIN est e GROUP BY e.d)
        SELECT est.d, est.n, CAST(256 AS BIGINT) AS k,
               est.est_x10, est.exact_x10,
               ABS(est.est_x10 - est.exact_x10) * 1000000
                 // est.exact_x10 AS err_ppm,
               ABS(rk.cnt_le * 10 - est.n * est.d) * 100000
                 // est.n AS rank_err_ppm
        FROM est JOIN rk ON rk.d = est.d ORDER BY est.d""")),

    // ---- q258: Bloom-filter FPR certificate ----
    // The FIFTH estimator certificate, and the error audit the q84
    // BloomFront (bloom-probe-before-anti-join) rests on: build an
    // m-bit / k=3 Bloom set over the BUILDING customers (m = 4·|A|,
    // sized from the data so the gate scales with SF), probe the
    // DISJOINT non-BUILDING customers, and measure the false-positive
    // rate per probe segment against the exact-fill theoretical rate
    // (p_set³ where p_set = n_bits_set/m — tighter than the
    // (1−e^{−kn/m})^k approximation because it uses the MEASURED fill,
    // so only the independence assumption is under test). Per-segment
    // rows double as an independence check: four disjoint probe
    // populations must land in the same band. Bit positions are
    // md5-derived (hash j = md5('q258#j#key')) — engine-portable, the
    // q218 rendezvous recipe.
    //
    // 100 TB posture: the bit-set table is bounded by m (member-count
    // scale, then DISTINCT-collapsed), so the probe side joins against
    // a broadcast-sized table; probe positions are computed in-row
    // (map-side), and the only probe-scale shuffle is the per-key
    // 3-row hit count. This is exactly how BloomFront deploys: build
    // once, broadcast, probe map-side.
    "q258_bloom_fpr_certificate" -> QueryDef(
      build = (spark, dir) => {
        val k = 3
        val cust = Tables.customer(spark, dir)
          .select(col("c_custkey").cast(LongType).as("key"),
            col("c_mktsegment").as("seg"))
        val members = cust.filter(col("seg") === "BUILDING")
        val nA = members.agg(count(lit(1)).as("n_members"),
          (count(lit(1)) * 4).as("m"))
        def posCol(j: Int): Column =
          conv(substring(md5(concat(lit(s"q258#$j#"),
            col("key").cast(StringType))), 1, 10), 16, 10)
            .cast(LongType) % col("m")
        val bits = members.crossJoin(broadcast(nA))
          .select(explode(array((1 to k).map(posCol): _*)).as("pos"))
          .distinct()
        val nSet = bits.agg(count(lit(1)).as("n_bits_set"))
        val probePos = cust.filter(col("seg") =!= "BUILDING")
          .crossJoin(broadcast(nA))
          .select(col("key"), col("seg"),
            explode(array((1 to k).map(posCol): _*)).as("pos"))
        val hits = probePos
          .join(bits.withColumn("hit", lit(1L)), Seq("pos"), "left")
          .groupBy(col("key"), col("seg"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("nhit"))
        hits.groupBy(col("seg"))
          .agg(count(lit(1)).as("n_probes"),
            sum(when(col("nhit") === k, 1L).otherwise(0L)).as("fp_count"))
          .crossJoin(broadcast(nA)).crossJoin(broadcast(nSet))
          .select(col("seg"), col("n_probes"), col("fp_count"),
            expr("fp_count * 1000000 div n_probes").as("fpr_ppm"),
            col("n_members"), col("m"), col("n_bits_set"),
            // cube in DECIMAL(38,0): n_bits_set³ outgrows int64 past
            // ~20,950 set bits (TPC-H SF ≈ 0.2) — long math would wrap
            // silently here while DuckDB raises, so the engines diverge
            // exactly when the certificate matters (the q267 recipe)
            expr("CAST(CAST(n_bits_set AS DECIMAL(38,0)) * n_bits_set" +
              " * n_bits_set * 1000000 div (CAST(m AS DECIMAL(38,0))" +
              " * m * m) AS BIGINT)").as("theo_fpr_ppm"))
          .orderBy(col("seg"))
      },
      oracle = Some("""
        WITH cust AS (SELECT c_custkey AS key, c_mktsegment AS seg
                      FROM customer),
        mem AS (SELECT key FROM cust WHERE seg = 'BUILDING'),
        na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members,
                      CAST(COUNT(*) * 4 AS BIGINT) AS m FROM mem),
        js AS (SELECT CAST(unnest(range(1, 4)) AS BIGINT) AS j),
        bits AS (SELECT DISTINCT
                   ('0x' || substr(md5('q258#' || CAST(j AS VARCHAR) || '#'
                     || CAST(key AS VARCHAR)), 1, 10))::BIGINT % m AS pos
                 FROM mem CROSS JOIN na CROSS JOIN js),
        ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bits_set FROM bits),
        pp AS (SELECT key, seg,
                 ('0x' || substr(md5('q258#' || CAST(j AS VARCHAR) || '#'
                   || CAST(key AS VARCHAR)), 1, 10))::BIGINT % m AS pos
               FROM cust CROSS JOIN na CROSS JOIN js
               WHERE seg <> 'BUILDING'),
        hits AS (SELECT pp.key, pp.seg,
                        SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                          AS nhit
                 FROM pp LEFT JOIN bits b ON b.pos = pp.pos GROUP BY 1, 2),
        ps AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_probes,
                      CAST(SUM(CASE WHEN nhit = 3 THEN 1 ELSE 0 END)
                        AS BIGINT) AS fp_count
               FROM hits GROUP BY 1)
        SELECT seg, n_probes, fp_count,
               fp_count * 1000000 // n_probes AS fpr_ppm,
               n_members, m, n_bits_set,
               CAST(CAST(n_bits_set AS HUGEINT) * n_bits_set * n_bits_set
                 * 1000000 // (CAST(m AS HUGEINT) * m * m) AS BIGINT)
                 AS theo_fpr_ppm
        FROM ps CROSS JOIN na CROSS JOIN ns ORDER BY seg""")),

    // ---- q263: sketch-based source-overlap estimation ----
    // The q221 HLL put to its REAL distributed use: register-max MERGE.
    // Cross-source content overlap (the contamination / mixture-design
    // statistic) estimated WITHOUT any pairwise content join:
    // |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B), where est(A ∪ B) comes
    // from merging the two sources' 256-register sketches (register-
    // wise max — the associative merge that makes the sketch work
    // under any partitioning). The estimator is q221's verbatim
    // corrected HLL (same alpha·m² literal, same linear-counting
    // branch). The exact trigram intersection (a token-keyed equijoin)
    // sits beside every pair as ground truth; err is signed ppm OF THE
    // EXACT UNION — the honest scale, since inclusion–exclusion error
    // is O(union/√m) and small overlaps drown in it (the q252 move:
    // the certificate SHOWS the error structure rather than hiding it).
    //
    // 100 TB posture: sketches are |sources|·256 rows no matter the
    // corpus size; pair unions are pair·256; the only corpus-scale
    // work is the one keyed shingle pass both q221 and the exact-truth
    // audit already pay. At production scale you keep the sketch path
    // and DROP the exact side — that is the point of the certificate.
    "q263_hll_overlap_estimate" -> QueryDef(
      build = (spark, dir) => {
        val (tok, hllRegs) = hllRegisters(spark, dir)
        val regs = hllRegs.localCheckpoint(false)
        // q221's corrected estimator over any register grouping
        def est(df: DataFrame, keys: Seq[String], out: String): DataFrame =
          df.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("present"),
              sum(pow(lit(2.0), -col("m"))).as("s_present"))
            .withColumn("s",
              col("s_present") + (lit(256L) - col("present")).cast("double"))
            .withColumn("v", lit(256L) - col("present"))
            .withColumn("e_raw", lit(47072.71267120224) / col("s"))
            .withColumn(out,
              when(col("e_raw") <= 640.0 && col("v") > 0,
                round(lit(256.0) * log(lit(256.0) / col("v").cast("double"))))
              .otherwise(round(col("e_raw"))).cast("long"))
            .select((keys.map(col) :+ col(out)): _*)
        val srcs = regs.select(col("source")).distinct()
        val pairs = srcs.as("x").join(srcs.as("y"),
            col("x.source") < col("y.source"))
          .select(col("x.source").as("sa"), col("y.source").as("sb"))
        val union = regs.join(broadcast(pairs),
            col("source") === col("sa") || col("source") === col("sb"))
          .groupBy(col("sa"), col("sb"), col("reg"))
          .agg(max(col("m")).as("m"))
        val estS = est(regs, Seq("source"), "n_hll")
        val estU = est(union, Seq("sa", "sb"), "est_union")
        val exN = tok.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
        val exI = tok.as("p").join(tok.as("q"),
            col("p.t") === col("q.t") && col("p.source") < col("q.source"))
          .groupBy(col("p.source").as("sa"), col("q.source").as("sb"))
          .agg(count(lit(1)).as("exact_inter"))
        pairs
          .join(broadcast(estS.select(col("source").as("sa"),
            col("n_hll").as("est_a"))), Seq("sa"))
          .join(broadcast(estS.select(col("source").as("sb"),
            col("n_hll").as("est_b"))), Seq("sb"))
          .join(estU, Seq("sa", "sb"))
          .join(broadcast(exN.select(col("source").as("sa"),
            col("n_exact").as("ex_a"))), Seq("sa"))
          .join(broadcast(exN.select(col("source").as("sb"),
            col("n_exact").as("ex_b"))), Seq("sb"))
          .join(exI, Seq("sa", "sb"), "left")
          .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
          .withColumn("est_inter",
            col("est_a") + col("est_b") - col("est_union"))
          .withColumn("exact_union",
            col("ex_a") + col("ex_b") - col("exact_inter"))
          .withColumn("d", col("est_inter") - col("exact_inter"))
          .select(col("sa").as("source_a"), col("sb").as("source_b"),
            col("est_a"), col("est_b"), col("est_union"), col("est_inter"),
            col("exact_inter"), col("exact_union"),
            expr("CASE WHEN d >= 0 THEN d * 1000000 div exact_union" +
              " ELSE -((-d) * 1000000 div exact_union) END").as("err_ppm"))
          .orderBy(col("source_a"), col("source_b"))
      },
      oracle = Some(s"""
        $SourceShinglesCte,
        tok AS (SELECT DISTINCT source, UNNEST(gs) AS t
                FROM sh0 WHERE len(gs) > 0),
        h AS (SELECT source, ('0x' || substr(md5(t), 1, 10))::BIGINT AS h
              FROM tok),
        r2 AS (SELECT source, h // 4294967296 AS reg,
                      CASE WHEN h % 4294967296 = 0 THEN 33
                           ELSE 33 - length(bin(h % 4294967296)) END AS rho
               FROM h),
        m AS MATERIALIZED (
          SELECT source, reg, MAX(rho) AS mx FROM r2 GROUP BY 1, 2),
        ga AS (SELECT source,
                      $SqlHllEstimate AS n_hll
               FROM m GROUP BY source),
        pairs AS (SELECT x.source AS sa, y.source AS sb
                  FROM (SELECT DISTINCT source FROM m) x
                  JOIN (SELECT DISTINCT source FROM m) y
                    ON x.source < y.source),
        um AS (SELECT p.sa, p.sb, m.reg, MAX(m.mx) AS mx
               FROM m JOIN pairs p
                 ON m.source = p.sa OR m.source = p.sb
               GROUP BY 1, 2, 3),
        ug AS (SELECT sa, sb,
                      $SqlHllEstimate AS est_union
               FROM um GROUP BY 1, 2),
        exn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
                FROM tok GROUP BY 1),
        exi AS (SELECT a.source AS sa, b.source AS sb,
                       CAST(COUNT(*) AS BIGINT) AS exact_inter
                FROM tok a JOIN tok b
                  ON b.t = a.t AND a.source < b.source
                GROUP BY 1, 2),
        fin AS (SELECT p.sa, p.sb, a.n_hll AS est_a, b.n_hll AS est_b,
                       ug.est_union,
                       a.n_hll + b.n_hll - ug.est_union AS est_inter,
                       COALESCE(exi.exact_inter, 0) AS exact_inter,
                       ea.n_exact + eb.n_exact
                         - COALESCE(exi.exact_inter, 0) AS exact_union
                FROM pairs p
                JOIN ga a ON a.source = p.sa
                JOIN ga b ON b.source = p.sb
                JOIN ug ON ug.sa = p.sa AND ug.sb = p.sb
                JOIN exn ea ON ea.source = p.sa
                JOIN exn eb ON eb.source = p.sb
                LEFT JOIN exi ON exi.sa = p.sa AND exi.sb = p.sb)
        SELECT sa AS source_a, sb AS source_b, est_a, est_b, est_union,
               est_inter, exact_inter, exact_union,
               CASE WHEN est_inter - exact_inter >= 0
                    THEN (est_inter - exact_inter) * 1000000 // exact_union
                    ELSE -((exact_inter - est_inter) * 1000000
                      // exact_union) END AS err_ppm
        FROM fin ORDER BY source_a, source_b""")),

    // ---- q273: Count-Min point-query error certificate ----
    // The SIXTH estimator-certificate family (HLL cardinality q221/
    // q263, MinHash similarity q252, AMS F2 q255, bottom-k quantiles
    // q257, Bloom FPR q258 — now the frequency sketch `HeavyHitters`
    // q167 rests on). CMS promises one-sided error: est(x) ≥ f(x)
    // always, and P[est(x) − f(x) ≥ (e/w)·N] ≤ e^{-d} per query. This
    // gate MEASURES that promise on q167's harmonic (Zipf) domain —
    // the distribution where CMS is actually deployed: d = 4 rows ×
    // w = 256 md5-hashed counters built in one keyed agg, every
    // distinct item probed (est = min over the 4 counters), overshoot
    // est − f reported per frequency DECADE (decade = digits of f —
    // string length, no libm), with the ε·N bound embedded as an
    // integer literal computed once driver-side (the q270 discipline).
    // The guarantee is per-query ≤ e^{-4} ≈ 1.8% — n_over_bound reads
    // 0 at this domain size, and the heavy decades (where q167's
    // candidates live) overshoot by ~0 relative to their own f.
    //
    // 100 TB posture: counters are d·w = 1024 cells whatever N is (one
    // partial/final keyed count over a ×4 in-row explode); the probe
    // set joins counters by (row, bucket) — broadcast-sized; the exact
    // side is the same one keyed count any heavy-hitter verify pays.
    "q273_cms_error_certificate" -> QueryDef(
      build = (spark, dir) => {
        val n = 200000L
        val d = 4
        val w = 256L
        val bound = (math.E * n / w).toLong // 2123; literal in BOTH plans
        val items = spark.range(n)
          .select(concat(lit("i"), expr(s"$n div (id + 1)")).as("item"))
        def bucket(r: Int): Column = expr(
          s"(instr('0123456789abcdef', substring(md5(concat('q273#$r#', " +
            s"item)), 1, 1)) - 1) * 16 + instr('0123456789abcdef', " +
            s"substring(md5(concat('q273#$r#', item)), 2, 1)) - 1")
        val cells = items
          .select(explode(array((1 to d).map(r =>
            struct(lit(r).as("r"), bucket(r).as("b"))): _*)).as("rb"))
          .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
          .agg(count(lit(1)).as("c"))
        val exact = items.groupBy(col("item")).agg(count(lit(1)).as("f"))
        val est = exact
          .select(col("item"), col("f"),
            explode(array((1 to d).map(r =>
              struct(lit(r).as("r"), bucket(r).as("b"))): _*)).as("rb"))
          .select(col("item"), col("f"), col("rb.r").as("r"),
            col("rb.b").as("b"))
          .join(broadcast(cells), Seq("r", "b"))
          .groupBy(col("item"), col("f")).agg(min(col("c")).as("est"))
        est.select(col("f"), (col("est") - col("f")).as("over"))
          .groupBy(length(col("f").cast("string")).cast("long")
            .as("decade"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("f")).as("mass"),
            expr("sum(over) div count(1)").as("mean_over"),
            max(col("over")).as("max_over"),
            sum(when(col("over") >= bound, 1L).otherwise(0L))
              .as("n_over_bound"))
          .withColumn("bound", lit(bound))
          .orderBy(col("decade"))
      },
      oracle = Some {
        val n = 200000L
        val bound = (math.E * n / 256).toLong
        s"""
        WITH items AS (
          SELECT 'i' || CAST($n // (id + 1) AS VARCHAR) AS item
          FROM range($n) t(id)),
        rb AS (SELECT item,
                      CAST(r AS INT) AS r,
                      (instr('0123456789abcdef',
                         substring(md5('q273#' || CAST(r AS VARCHAR) || '#'
                           || item), 1, 1)) - 1) * 16
                      + instr('0123456789abcdef',
                          substring(md5('q273#' || CAST(r AS VARCHAR) || '#'
                            || item), 2, 1)) - 1 AS b
               FROM items CROSS JOIN (SELECT unnest(range(1, 5)) AS r)),
        cells AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c
                  FROM rb GROUP BY 1, 2),
        exact AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS f
                  FROM items GROUP BY 1),
        probes AS (SELECT DISTINCT e.item, e.f, rb.r, rb.b
                   FROM exact e JOIN rb ON rb.item = e.item),
        est AS (SELECT p.item, p.f, MIN(c.c) AS est
                FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
                GROUP BY 1, 2)
        SELECT CAST(length(CAST(f AS VARCHAR)) AS BIGINT) AS decade,
               COUNT(*) AS n_items,
               CAST(SUM(f) AS BIGINT) AS mass,
               CAST(SUM(est - f) AS BIGINT) // COUNT(*) AS mean_over,
               CAST(MAX(est - f) AS BIGINT) AS max_over,
               CAST(SUM(CASE WHEN est - f >= $bound THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_over_bound,
               CAST($bound AS BIGINT) AS bound
        FROM est GROUP BY 1 ORDER BY decade"""
      }),

    // ---- q282: differentially-private release + calibration ----
    // The EIGHTH certificate family: publishing corpus statistics
    // under a privacy budget. Per-language doc counts released with
    // Laplace(b = Δ/ε = 1/0.1 = 10) noise via the exact inverse CDF
    // −b·sgn(u−½)·ln(1−2|u−½|) on an md5 48-bit uniform (+1 over
    // 2⁴⁸+2, so the CDF argument never reaches 0) — the q264 coin, the
    // q216 ln-rounded-once-at-9dp portability move, floor (never
    // round-half) back to integers. THE CERTIFICATE: a deterministic
    // 256-draw panel from the same generator must show mean |noise| ≈
    // b (E|Lap(b)| = b exactly) — published beside the release, it is
    // the evidence the noise is calibrated to the claimed ε rather
    // than silently too small (no privacy) or too large (no utility).
    //
    // 100 TB posture: the release is one keyed count + an in-row noise
    // expression; the panel is a 256-row Range — both model-sized
    // regardless of corpus size (that is the POINT of releasing
    // aggregates).
    "q282_dp_laplace_release" -> QueryDef(
      build = (spark, dir) => {
        def unif(salt: String): String =
          s"((CAST(conv(substring(md5($salt), 1, 12), 16, 10) AS BIGINT)" +
            " + 1) / 281474976710658.0d)"
        def lap(u: String): String =
          s"(CASE WHEN $u >= 0.5d" +
            s" THEN -10.0d * round(ln(1.0d - 2.0d * ($u - 0.5d)), 9)" +
            s" ELSE 10.0d * round(ln(1.0d - 2.0d * (0.5d - $u)), 9) END)"
        val rel = Tables.documents(spark, dir)
          .groupBy(col("lang")).agg(count(lit(1)).as("true_count"))
          .withColumn("noise_floor", expr(
            s"CAST(floor(${lap(unif("concat('q282#', lang)"))}) AS BIGINT)"))
          .withColumn("noisy_count", col("true_count") + col("noise_floor"))
        val cal = spark.range(1, 257)
          .select(expr(
            lap(unif("concat('q282#cal#', CAST(id AS STRING))"))).as("nz"))
          .agg(count(lit(1)).as("n_draws"),
            expr("CAST(sum(floor(abs(nz) * 1000000.0d)) AS BIGINT)" +
              " div 256").as("mean_abs_scaled"))
        rel.crossJoin(broadcast(cal))
          .select(col("lang"), col("true_count"), col("noise_floor"),
            col("noisy_count"), lit(100000L).as("epsilon_ppm"),
            col("n_draws"), col("mean_abs_scaled"),
            lit(10000000L).as("theory_abs_scaled"))
          .orderBy(col("lang"))
      },
      oracle = Some("""
        WITH rel AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS true_count,
                 CAST(floor(CASE
                   WHEN (('0x' || substr(md5('q282#' || lang), 1, 12))
                          ::BIGINT + 1) / 281474976710658.0 >= 0.5
                   THEN -10.0 * round(ln(1.0 - 2.0 *
                     ((('0x' || substr(md5('q282#' || lang), 1, 12))
                        ::BIGINT + 1) / 281474976710658.0 - 0.5)), 9)
                   ELSE 10.0 * round(ln(1.0 - 2.0 *
                     (0.5 - (('0x' || substr(md5('q282#' || lang), 1, 12))
                        ::BIGINT + 1) / 281474976710658.0)), 9)
                   END) AS BIGINT) AS noise_floor
          FROM documents GROUP BY 1),
        cal AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_draws,
                 CAST(SUM(floor(ABS(CASE
                   WHEN (('0x' || substr(md5('q282#cal#'
                          || CAST(id AS VARCHAR)), 1, 12))::BIGINT + 1)
                        / 281474976710658.0 >= 0.5
                   THEN -10.0 * round(ln(1.0 - 2.0 *
                     ((('0x' || substr(md5('q282#cal#'
                         || CAST(id AS VARCHAR)), 1, 12))::BIGINT + 1)
                       / 281474976710658.0 - 0.5)), 9)
                   ELSE 10.0 * round(ln(1.0 - 2.0 *
                     (0.5 - (('0x' || substr(md5('q282#cal#'
                         || CAST(id AS VARCHAR)), 1, 12))::BIGINT + 1)
                       / 281474976710658.0)), 9)
                   END) * 1000000.0)) AS BIGINT) // 256 AS mean_abs_scaled
          FROM range(1, 257) t(id))
        SELECT lang, true_count, noise_floor,
               true_count + noise_floor AS noisy_count,
               CAST(100000 AS BIGINT) AS epsilon_ppm,
               n_draws, mean_abs_scaled,
               CAST(10000000 AS BIGINT) AS theory_abs_scaled
        FROM rel CROSS JOIN cal ORDER BY lang""")),

    // ---- q288: unseen-vocabulary mass (Good–Turing + Chao1) ----
    // The NINTH certificate family answers the question Heaps' growth
    // fit (q212) cannot: of the vocabulary this corpus has NOT yet
    // shown, how much probability mass and how many types are still
    // out there? Good–Turing's leave-one-out identity puts the unseen
    // MASS at f1/N (the singleton share — every singleton is a word
    // that would be novel had we sampled one token fewer), and Chao1's
    // bias-corrected lower bound puts the unseen TYPE count at
    // f1(f1−1)/(2(f2+1)) beyond the observed vocabulary (defined even
    // when f2 = 0, unlike the classic f1²/2f2). Per source, in exact
    // integers — the decision card for "is this slice mined out or
    // worth more crawl budget", the same question LM-data teams ask
    // before buying more of a domain. Coverage = 1 − f1/N is Turing's
    // sample-coverage estimate, published alongside.
    //
    // 100 TB posture: one (source, word) keyed count (the q212/q200
    // shuffle shape), then a frequency-of-frequencies agg per source —
    // |sources| output rows; the Chao1 product runs in DECIMAL(38,0)/
    // HUGEINT (f1 is vocabulary-sized; its square is not long-safe).
    "q288_unseen_vocab_mass" -> QueryDef(
      build = (spark, dir) => {
        val wc = Tables.documents(spark, dir)
          .select(col("source"),
            explode(split(trim(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
        wc.groupBy(col("source"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("vocab"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
            sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
          .withColumn("chao1_est", expr(
            "vocab + CAST(CAST(f1 AS DECIMAL(38,0)) * (f1 - 1)" +
              " div (2 * (f2 + 1)) AS BIGINT)"))
          .withColumn("unseen_mass_ppm",
            expr("f1 * 1000000 div n_tokens"))
          .withColumn("coverage_ppm",
            expr("1000000 - f1 * 1000000 div n_tokens"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH w AS (SELECT source, UNNEST(string_split(trim(text), ' '))
                     AS w
                   FROM documents),
        wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
               FROM w WHERE len(w) > 0 GROUP BY 1, 2),
        card AS (SELECT source,
                        CAST(SUM(c) AS BIGINT) AS n_tokens,
                        CAST(COUNT(*) AS BIGINT) AS vocab,
                        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS f1,
                        CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS f2
                 FROM wc GROUP BY 1)
        SELECT source, n_tokens, vocab, f1, f2,
               vocab + CAST(CAST(f1 AS HUGEINT) * (f1 - 1)
                 // (2 * (f2 + 1)) AS BIGINT) AS chao1_est,
               f1 * 1000000 // n_tokens AS unseen_mass_ppm,
               1000000 - f1 * 1000000 // n_tokens AS coverage_ppm
        FROM card ORDER BY source""")),

    // ---- q298: corpus concentration (Gini / Lorenz) card ----
    // The diversity line every data card should carry: how concentrated
    // is the corpus across sources? A mix where three domains hold 90%
    // of the mass behaves like three domains no matter how long the
    // source list reads. Exact Lorenz curve (sources sorted by
    // ascending char mass, cumulative share vs the uniform diagonal)
    // and the exact Gini coefficient in one pass of integer arithmetic
    // — Gini = Σ(2i−n−1)·xᵢ / (n·T) over the sorted masses, ppm, with
    // products in DECIMAL(38,0)/HUGEINT (source masses are petabyte-
    // scale numbers at 100 TB); the concentrated/diverse verdict at
    // Gini ≥ 0.4 rides every row beside each source's gap to uniform.
    //
    // 100 TB posture: ONE source-keyed mass agg over the scan;
    // everything after — sort, Lorenz cumsum, Gini — runs on the
    // |sources|-row table.
    "q298_concentration_card" -> QueryDef(
      build = (spark, dir) => {
        val m = Tables.documents(spark, dir)
          .groupBy(col("source"))
          .agg(sum(col("n_chars").cast("long")).as("mass"))
          .localCheckpoint(false)
        val tot = m.agg(sum(col("mass")).as("t_all"),
          count(lit(1)).as("n_src"))
        val w = Window.orderBy(col("mass"), col("source"))
        val wc = w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val g = m.withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("cum", sum(col("mass")).over(wc))
          .crossJoin(broadcast(tot))
        val gini = g.agg(max(col("n_src")).as("n_src"),
          max(col("t_all")).as("t_all"),
          sum(expr("CAST(2 * rk - n_src - 1 AS DECIMAL(38,0)) * mass"))
            .as("gnum"))
          .select(expr(
            "CAST(CASE WHEN gnum >= 0 THEN gnum * 1000000" +
              " div (CAST(n_src AS DECIMAL(38,0)) * t_all)" +
              " ELSE -((-gnum) * 1000000" +
              " div (CAST(n_src AS DECIMAL(38,0)) * t_all)) END" +
              " AS BIGINT)").as("gini_ppm"))
        g.crossJoin(broadcast(gini))
          .select(col("rk"), col("source"), col("mass"),
            expr("CAST(CAST(mass AS DECIMAL(38,0)) * 1000000" +
              " div t_all AS BIGINT)").as("share_ppm"),
            expr("CAST(CAST(cum AS DECIMAL(38,0)) * 1000000" +
              " div t_all AS BIGINT)").as("cum_share_ppm"),
            expr("rk * 1000000 div n_src").as("uniform_cum_ppm"),
            col("gini_ppm"),
            when(col("gini_ppm") >= 400000L, "concentrated")
              .otherwise("diverse").as("verdict"))
          .orderBy(col("rk"))
      },
      oracle = Some(s"""
        WITH m AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
                   FROM documents GROUP BY 1),
        tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS t_all,
                       CAST(COUNT(*) AS BIGINT) AS n_src FROM m),
        r AS (SELECT m.*, CAST(ROW_NUMBER() OVER
                (ORDER BY mass, source) AS BIGINT) AS rk,
                CAST(SUM(mass) OVER (ORDER BY mass, source
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM m),
        gn AS (SELECT CAST(SUM(CAST(2 * rk - tot.n_src - 1 AS HUGEINT)
                 * mass) AS HUGEINT) AS gnum,
                      MAX(tot.n_src) AS n_src, MAX(tot.t_all) AS t_all
               FROM r CROSS JOIN tot),
        $GiniCte
        SELECT r.rk, r.source, r.mass,
               CAST(CAST(r.mass AS HUGEINT) * 1000000 // tot.t_all
                 AS BIGINT) AS share_ppm,
               CAST(CAST(r.cum AS HUGEINT) * 1000000 // tot.t_all
                 AS BIGINT) AS cum_share_ppm,
               r.rk * 1000000 // tot.n_src AS uniform_cum_ppm,
               gi.gini_ppm,
               CASE WHEN gi.gini_ppm >= 400000 THEN 'concentrated'
                 ELSE 'diverse' END AS verdict
        FROM r CROSS JOIN tot CROSS JOIN gi ORDER BY r.rk""")),

    // ---- q299: Poisson-bootstrap confidence interval ----
    // The TENTH certificate family, and the one that puts ERROR BARS on
    // any corpus metric: the Poisson bootstrap (Chamandy et al. — the
    // bag-of-little-bootstraps lineage) is THE distributed bootstrap,
    // because resampling-with-replacement at corpus scale is exactly
    // "give each doc an independent Poisson(1) weight per replicate" —
    // one pass, no materialized resample, mergeable partials. Here it
    // is made INTEGER-EXACT end to end: the Poisson(1) inverse CDF is
    // a step function whose cumulative thresholds are computed ONCE
    // driver-side and embedded as ppm literals in BOTH plans (the
    // benford2Ppm discipline — zero query-time libm), the per-(doc,
    // replicate) uniform is the md5 48-bit coin in exact ppm
    // (DECIMAL/HUGEINT division), so a weight is just a count of
    // thresholds cleared. B = 64 replicate means of the stop-rate
    // quality score → the 95% percentile interval is the (2nd, 63rd)
    // order statistic of 64 exact integers, published beside the point
    // estimate. What it buys at 100 TB: "quality = 61±2‰" instead of
    // a bare number — the difference between a metric and a claim.
    //
    // 100 TB posture: one in-row pass emits 64 weighted partials per
    // doc (map-side combine onto 64 groups); everything after runs on
    // the 64-row replicate table.
    "q299_bootstrap_ci" -> QueryDef(
      build = (spark, dir) => {
        val b = 64
        val thr = poisson1CumPpm
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"),
            expr("size(filter(split(trim(text), ' ')," +
              " t -> t = 'the' OR t = 'a'))").cast("long").as("stops"),
            size(split(trim(col("text")), " ")).cast("long")
              .as("n_tokens"))
          .withColumn("score",
            expr("stops * 1000 div greatest(n_tokens, 1L)"))
          .localCheckpoint(false)
        val point = d.agg(
          expr("sum(score) div count(1)").as("point_milli"))
        val wExpr = thr.map(t => s"(CASE WHEN u_ppm >= $t THEN 1L" +
          " ELSE 0L END)").mkString(" + ")
        val reps = d.select(col("doc_id"), col("score"),
            explode(expr(s"sequence(1L, ${b}L)")).as("r"))
          .withColumn("u_ppm", expr(
            "CAST(CAST(conv(substring(md5(concat('q299#'," +
              " CAST(doc_id AS STRING), '#', CAST(r AS STRING)))," +
              " 1, 12), 16, 10) AS DECIMAL(38,0)) * 1000000" +
              " div 281474976710656 AS BIGINT)"))
          .withColumn("w", expr(wExpr))
          .groupBy(col("r"))
          .agg(sum(col("w")).as("w_total"),
            sum(expr("CAST(w AS DECIMAL(38,0)) * score")).as("swx"))
          .withColumn("mean_milli",
            expr("CAST(swx div w_total AS BIGINT)"))
          .localCheckpoint(false)
        val wr = Window.orderBy(col("mean_milli"), col("r"))
        val ranked = reps
          .withColumn("rep_rank", row_number().over(wr).cast("long"))
        val ci = ranked.agg(
          max(when(col("rep_rank") === 2L, col("mean_milli")))
            .as("ci_lo_milli"),
          max(when(col("rep_rank") === lit((b - 1).toLong),
            col("mean_milli"))).as("ci_hi_milli"))
        ranked.crossJoin(broadcast(point)).crossJoin(broadcast(ci))
          .select(col("r"), col("w_total"), col("mean_milli"),
            col("rep_rank"), col("point_milli"),
            col("ci_lo_milli"), col("ci_hi_milli"))
          .orderBy(col("r"))
      },
      oracle = Some(s"""
        WITH d AS MATERIALIZED (
          SELECT doc_id,
                 $SqlArticleScore AS score
          FROM documents),
        pt AS (SELECT CAST(SUM(score) AS BIGINT) // COUNT(*)
                 AS point_milli FROM d),
        reps AS (SELECT d.doc_id, d.score, CAST(t.r AS BIGINT) AS r,
                        CAST(CAST(('0x' || substr(md5('q299#'
                          || CAST(d.doc_id AS VARCHAR) || '#'
                          || CAST(t.r AS VARCHAR)), 1, 12))::BIGINT
                          AS HUGEINT) * 1000000 // 281474976710656
                          AS BIGINT) AS u_ppm
                 FROM d, LATERAL (SELECT unnest(range(1, 65)) AS r) t),
        wts AS (SELECT r, score,
                       ${poisson1CumPpm.map(t =>
    s"(CASE WHEN u_ppm >= $t THEN 1 ELSE 0 END)").mkString(" + ")}
                         AS w
                FROM reps),
        agg AS (SELECT r, CAST(SUM(w) AS BIGINT) AS w_total,
                       CAST(SUM(CAST(w AS HUGEINT) * score) AS HUGEINT)
                         AS swx
                FROM wts GROUP BY 1),
        mm AS (SELECT r, w_total,
                      CAST(swx // w_total AS BIGINT) AS mean_milli
               FROM agg),
        rk AS (SELECT *, CAST(ROW_NUMBER() OVER
                 (ORDER BY mean_milli, r) AS BIGINT) AS rep_rank
               FROM mm),
        ci AS (SELECT MAX(CASE WHEN rep_rank = 2 THEN mean_milli END)
                 AS ci_lo_milli,
                      MAX(CASE WHEN rep_rank = 63 THEN mean_milli END)
                 AS ci_hi_milli
               FROM rk)
        SELECT r, w_total, mean_milli, rep_rank, point_milli,
               ci_lo_milli, ci_hi_milli
        FROM rk CROSS JOIN pt CROSS JOIN ci ORDER BY r""")),

    // ---- q300: the publishable data card (composition capstone) ----
    // The q271 lesson applied to REPORTING: the corpus has every card
    // dimension as its own gate — counts, dup rate (q89), quality
    // (q291), language mix, concentration (q298), coverage (q288) —
    // but a real dataset release publishes them as ONE table from ONE
    // read, and composition is where population bugs hide (a filter
    // applied in one dimension but not another silently ships a card
    // whose columns describe different corpora). One cut projection
    // feeds every dimension: per source — docs, tokens, within-source
    // exact-dup docs (n − distinct md5(text), the q89 definition),
    // mean stop-rate quality, dominant language with its share — and
    // the corpus-level Gini over source token mass (q298 arithmetic)
    // and Good–Turing coverage (q288's 1 − f1/N) ride every row, so
    // the card is self-contained the way a model card's data section
    // actually prints.
    //
    // 100 TB posture: one corpus projection cut once; per-source
    // stats, md5-dup distincts, lang argmax, and the word-level f1/N
    // agg are each keyed aggs over that cut; Gini runs on the
    // |sources|-row mass table.
    "q300_data_card" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("lang"),
            md5(col("text")).as("h"),
            split(trim(col("text")), " ").as("toks"),
            expr("size(filter(split(trim(text), ' ')," +
              " t -> t = 'the' OR t = 'a'))").cast("long").as("stops"))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .withColumn("score",
            expr("stops * 1000 div greatest(n_tokens, 1L)"))
          .localCheckpoint(false)
        val base = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            countDistinct(col("h")).as("n_distinct"),
            sum(col("score")).as("ssum"))
          .withColumn("dup_docs", col("n_docs") - col("n_distinct"))
          .withColumn("dup_ppm",
            expr("dup_docs * 1000000 div n_docs"))
          .withColumn("mean_score_milli", expr("ssum div n_docs"))
          .localCheckpoint(false)
        val lc = d.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("lc"))
        val wl = Window.partitionBy(col("source"))
          .orderBy(col("lc").desc, col("lang"))
        val topLang = lc.withColumn("rn", row_number().over(wl))
          .filter(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"),
            col("lc").as("top_lang_docs"))
        // corpus Gini over per-source token mass (q298 arithmetic)
        val tot = base.agg(sum(col("n_tokens")).as("t_all"),
          count(lit(1)).as("n_src"))
        val wgr = Window.orderBy(col("n_tokens"), col("source"))
        val gini = base
          .withColumn("rk", row_number().over(wgr).cast("long"))
          .crossJoin(broadcast(tot))
          .agg(sum(expr(
            "CAST(2 * rk - n_src - 1 AS DECIMAL(38,0)) * n_tokens"))
            .as("gnum"),
            max(col("n_src")).as("n_src"), max(col("t_all")).as("t_all"))
          .select(expr(
            "CAST(CASE WHEN gnum >= 0 THEN gnum * 1000000" +
              " div (CAST(n_src AS DECIMAL(38,0)) * t_all)" +
              " ELSE -((-gnum) * 1000000" +
              " div (CAST(n_src AS DECIMAL(38,0)) * t_all)) END" +
              " AS BIGINT)").as("gini_ppm"))
        // corpus Good–Turing coverage (q288 arithmetic)
        val cov = d.select(explode(col("toks")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("nt"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"))
          .select(expr("1000000 - f1 * 1000000 div nt")
            .as("coverage_ppm"))
        base.join(topLang, Seq("source"))
          .crossJoin(broadcast(gini)).crossJoin(broadcast(cov))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("dup_docs"), col("dup_ppm"), col("mean_score_milli"),
            col("top_lang"),
            expr("top_lang_docs * 1000000 div n_docs")
              .as("top_lang_share_ppm"),
            col("gini_ppm"), col("coverage_ppm"))
          .orderBy(col("source"))
      },
      oracle = Some(s"""
        WITH d AS MATERIALIZED (
          SELECT doc_id, source, lang, md5(text) AS h,
                 CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS n_tokens,
                 string_split(trim(text), ' ') AS toks,
                 $SqlArticleScore AS score
          FROM documents),
        base AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                        CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
                        CAST(SUM(score) AS BIGINT) AS ssum
                 FROM d GROUP BY 1),
        b2 AS (SELECT *, n_docs - n_distinct AS dup_docs,
                      (n_docs - n_distinct) * 1000000 // n_docs
                        AS dup_ppm,
                      ssum // n_docs AS mean_score_milli
               FROM base),
        lc AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS lc
               FROM d GROUP BY 1, 2),
        tl AS (SELECT source, lang AS top_lang, lc AS top_lang_docs
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY lc DESC, lang) AS rn FROM lc)
               WHERE rn = 1),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_all,
                       CAST(COUNT(*) AS BIGINT) AS n_src FROM b2),
        gr AS (SELECT n_tokens, CAST(ROW_NUMBER() OVER
                 (ORDER BY n_tokens, source) AS BIGINT) AS rk
               FROM b2),
        gn AS (SELECT CAST(SUM(CAST(2 * rk - tot.n_src - 1 AS HUGEINT)
                 * n_tokens) AS HUGEINT) AS gnum,
                      MAX(tot.n_src) AS n_src, MAX(tot.t_all) AS t_all
               FROM gr CROSS JOIN tot),
        $GiniCte,
        wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
               FROM (SELECT UNNEST(toks) AS w FROM d)
               WHERE len(w) > 0 GROUP BY 1),
        cov AS (SELECT 1000000 - CAST(SUM(CASE WHEN c = 1 THEN 1
                         ELSE 0 END) AS BIGINT) * 1000000
                       // CAST(SUM(c) AS BIGINT) AS coverage_ppm
                FROM wc)
        SELECT b2.source, b2.n_docs, b2.n_tokens, b2.dup_docs,
               b2.dup_ppm, b2.mean_score_milli, tl.top_lang,
               tl.top_lang_docs * 1000000 // b2.n_docs
                 AS top_lang_share_ppm,
               gi.gini_ppm, cov.coverage_ppm
        FROM b2 JOIN tl USING (source)
        CROSS JOIN gi CROSS JOIN cov
        ORDER BY b2.source""")),

    // ---- q304: replication-checksum manifest (verify a copy without
    // a join) ----
    // The table-checksum operator every replicated data platform runs
    // (the pt-table-checksum shape, rebuilt for a data lake): prove a
    // 100 TB replica equals its source WITHOUT ever joining the two
    // corpora row-by-row. Each side is summarized ONCE into an
    // id-range chunk manifest — (chunk, row count, order-invariant
    // content checksum = Σ 48-bit md5(row) mod 10¹⁸, a commutative
    // sum so the result is independent of partitioning and scan
    // order, and mergeable map-side) — and only the manifests (KBs,
    // whatever the corpus size) meet in a chunk-keyed full-outer
    // join. The replica here carries deterministic md5-coin faults
    // (2% rows bit-rotted, 1% dropped); the gate publishes the
    // diverging chunks with a count/content classification (a lost
    // row is a different failure than rot — re-copy vs re-read) and
    // the GLOBAL verdict recomputed from the chunk manifests
    // themselves — the mergeability the whole scheme rests on,
    // demonstrated in-data. Distinct from q107/q296 snapshot diffs:
    // those locate row-level changes via corpus-scale joins; this is
    // the communication-efficient certificate you run FIRST (the two
    // sides may live in different datacenters — only checksums
    // travel), drilling into a diverged chunk afterwards.
    //
    // 100 TB posture: one pass per side (in-row hash, chunk-keyed
    // partial/final agg); the only join is manifest×manifest on the
    // chunk key; checksum sums ride DECIMAL(38,0)/HUGEINT before the
    // mod (Σ of 10⁹ 48-bit hashes exceeds int64 — the q258 lesson);
    // the corpora are NEVER row-joined (plan-guarded: no
    // hashpartitioning on doc_id).
    "q304_replication_checksum" -> QueryDef(
      build = (spark, dir) => {
        def coin(salt: String) =
          conv(substring(md5(concat(lit(salt),
            col("doc_id").cast("string"))), 1, 12), 16, 10)
            .cast("long") % 1000000L
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
        val replica = docs.filter(coin("q304L#") >= 10000L)
          .withColumn("text",
            when(coin("q304C#") < 20000L, concat(col("text"), lit("~")))
              .otherwise(col("text")))
        def manifest(df: DataFrame, n: String, cks: String) = df
          .select(expr("doc_id div 64").as("chunk"), expr(
            "CAST(CONV(SUBSTRING(MD5(CONCAT(CAST(doc_id AS STRING)," +
              " '#', text)), 1, 12), 16, 10) AS BIGINT)").as("h"))
          .groupBy(col("chunk"))
          .agg(count(lit(1)).as(n), expr(
            "CAST(SUM(CAST(h AS DECIMAL(38,0)))" +
              " % 1000000000000000000 AS BIGINT)").as(cks))
        val j = manifest(docs, "n_a", "cks_a")
          .join(manifest(replica, "n_b", "cks_b"), Seq("chunk"),
            "full_outer")
          .select(col("chunk"),
            coalesce(col("n_a"), lit(0L)).as("n_a"),
            coalesce(col("n_b"), lit(0L)).as("n_b"),
            coalesce(col("cks_a"), lit(0L)).as("cks_a"),
            coalesce(col("cks_b"), lit(0L)).as("cks_b"))
          .withColumn("divergence",
            when(col("n_a") =!= col("n_b"), "count")
              .when(col("cks_a") =!= col("cks_b"), "content")
              .otherwise("clean"))
          // manifest-sized; the cut keeps the summary + report reads
          // from re-scanning the corpora
          .localCheckpoint()
        val su = j.agg(count(lit(1)).as("n_chunks"),
          sum(when(col("divergence") =!= "clean", 1L).otherwise(0L))
            .as("n_diverging"),
          sum(when(col("divergence") === "count", 1L).otherwise(0L))
            .as("n_count_div"),
          sum(when(col("divergence") === "content", 1L).otherwise(0L))
            .as("n_content_div"),
          sum(col("n_a")).as("total_docs_a"),
          sum(col("n_b")).as("total_docs_b"),
          expr("CAST(SUM(CAST(cks_a AS DECIMAL(38,0)))" +
            " % 1000000000000000000 AS BIGINT)").as("global_cks_a"),
          expr("CAST(SUM(CAST(cks_b AS DECIMAL(38,0)))" +
            " % 1000000000000000000 AS BIGINT)").as("global_cks_b"))
          .withColumn("verdict",
            when(col("global_cks_a") =!= col("global_cks_b") ||
              col("total_docs_a") =!= col("total_docs_b"), "diverged")
              .otherwise("identical"))
        j.filter(col("divergence") =!= "clean")
          .orderBy(col("chunk")).limit(20)
          .crossJoin(broadcast(su))
          .orderBy(col("chunk"))
      },
      oracle = Some("""
        WITH a AS (SELECT doc_id, text FROM documents),
        b AS (SELECT doc_id,
                     CASE WHEN ('0x' || substr(md5('q304C#' ||
                         CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                         % 1000000 < 20000
                       THEN text || '~' ELSE text END AS text
              FROM documents
              WHERE ('0x' || substr(md5('q304L#' ||
                CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                % 1000000 >= 10000),
        ma AS (SELECT doc_id // 64 AS chunk,
                      CAST(COUNT(*) AS BIGINT) AS n_a,
                      CAST(SUM(CAST(('0x' || substr(md5(
                          CAST(doc_id AS VARCHAR) || '#' || text), 1, 12)
                        )::BIGINT AS HUGEINT))
                        % 1000000000000000000 AS BIGINT) AS cks_a
               FROM a GROUP BY 1),
        mb AS (SELECT doc_id // 64 AS chunk,
                      CAST(COUNT(*) AS BIGINT) AS n_b,
                      CAST(SUM(CAST(('0x' || substr(md5(
                          CAST(doc_id AS VARCHAR) || '#' || text), 1, 12)
                        )::BIGINT AS HUGEINT))
                        % 1000000000000000000 AS BIGINT) AS cks_b
               FROM b GROUP BY 1),
        j AS (SELECT COALESCE(ma.chunk, mb.chunk) AS chunk,
                     COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
                     COALESCE(cks_a, 0) AS cks_a,
                     COALESCE(cks_b, 0) AS cks_b
              FROM ma FULL OUTER JOIN mb ON ma.chunk = mb.chunk),
        jd AS (SELECT *, CASE WHEN n_a <> n_b THEN 'count'
                     WHEN cks_a <> cks_b THEN 'content'
                     ELSE 'clean' END AS divergence
               FROM j),
        su AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
                      CAST(SUM(CASE WHEN divergence <> 'clean' THEN 1
                        ELSE 0 END) AS BIGINT) AS n_diverging,
                      CAST(SUM(CASE WHEN divergence = 'count' THEN 1
                        ELSE 0 END) AS BIGINT) AS n_count_div,
                      CAST(SUM(CASE WHEN divergence = 'content' THEN 1
                        ELSE 0 END) AS BIGINT) AS n_content_div,
                      CAST(SUM(n_a) AS BIGINT) AS total_docs_a,
                      CAST(SUM(n_b) AS BIGINT) AS total_docs_b,
                      CAST(SUM(CAST(cks_a AS HUGEINT))
                        % 1000000000000000000 AS BIGINT) AS global_cks_a,
                      CAST(SUM(CAST(cks_b AS HUGEINT))
                        % 1000000000000000000 AS BIGINT) AS global_cks_b
               FROM jd)
        SELECT d.chunk, d.n_a, d.n_b, d.cks_a, d.cks_b, d.divergence,
               su.n_chunks, su.n_diverging, su.n_count_div,
               su.n_content_div, su.total_docs_a, su.total_docs_b,
               su.global_cks_a, su.global_cks_b,
               CASE WHEN su.global_cks_a <> su.global_cks_b
                 OR su.total_docs_a <> su.total_docs_b
                 THEN 'diverged' ELSE 'identical' END AS verdict
        FROM (SELECT * FROM jd WHERE divergence <> 'clean'
              ORDER BY chunk LIMIT 20) d
        CROSS JOIN su
        ORDER BY d.chunk""")),

    // ---- q333: capture–recapture corpus-size certificate ----
    // The SAMPLING-based population estimator beside the sketch-based
    // ones (q221/q263 HLL, q318 bottom-k — all hash the whole stream;
    // capture–recapture estimates N from two INDEPENDENT partial
    // samples, the tool for "how big is the crawl frontier / the dedup
    // universe" when you can only afford samples): two 30% md5-coin
    // captures of documents, Lincoln–Petersen N̂ = n₁n₂ div m and the
    // bias-corrected Chapman N̂ = (n₁+1)(n₂+1) div (m+1) − 1, each
    // with signed ppm error vs the TRUE count (known here — that is
    // what makes it a certificate). The Chapman 95% CI uses the exact
    // variance (n₁+1)(n₂+1)(n₁−m)(n₂−m) div ((m+1)²(m+2)) and the
    // q319 no-libm isqrt (double sqrt + ±1 integer correction) for the
    // standard error — the reusable primitive doing its second job.
    //
    // 100 TB posture: two coin filters + one doc-keyed semi-join for
    // the recapture count + three scalar counts; everything after is
    // 1-row arithmetic. The point of the estimator IS that it never
    // scans the whole population. Measured sf0.1: true 5000, Chapman
    // 5197 (+3.9%), CI [4833, 5561] covers — and Chapman sits inside
    // Lincoln–Petersen (+4.1%) as the bias correction predicts.
    "q333_capture_recapture" -> QueryDef(
      build = (spark, dir) => {
        def coin(salt: String) =
          expr(s"CAST(conv(substring(md5(concat('$salt', " +
            s"CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT) " +
            "% 1000000")
        val docs = Tables.documents(spark, dir).select(col("doc_id"))
        val s1 = docs.filter(coin("q333A#") < 300000L)
        val s2 = docs.filter(coin("q333B#") < 300000L)
        val stats = docs.agg(count(lit(1)).as("n_true"))
          .crossJoin(broadcast(s1.agg(count(lit(1)).as("n1"))))
          .crossJoin(broadcast(s2.agg(count(lit(1)).as("n2"))))
          .crossJoin(broadcast(
            s1.join(s2, Seq("doc_id"), "left_semi")
              .agg(count(lit(1)).as("m"))))
        stats.select(col("n_true"), col("n1"), col("n2"), col("m"),
            expr("n1 * n2 div GREATEST(m, 1L)").as("lp_est"),
            expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").as("chapman_est"),
            expr("(n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m) div " +
              "((m + 1) * (m + 1) * (m + 2))").as("var_chapman"))
          .withColumn("r0", expr(
            "CAST(FLOOR(SQRT(CAST(var_chapman AS DOUBLE))) AS BIGINT)"))
          .withColumn("se", expr(
            "r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= var_chapman " +
              "THEN 1 ELSE 0 END) - (CASE WHEN r0 * r0 > var_chapman " +
              "THEN 1 ELSE 0 END)"))
          .select(col("n_true"), col("n1"), col("n2"), col("m"),
            col("lp_est"), col("chapman_est"),
            expr("CASE WHEN lp_est >= n_true THEN (lp_est - n_true) * " +
              "1000000L div n_true ELSE -((n_true - lp_est) * 1000000L " +
              "div n_true) END").as("lp_err_ppm"),
            expr("CASE WHEN chapman_est >= n_true THEN (chapman_est - " +
              "n_true) * 1000000L div n_true ELSE -((n_true - " +
              "chapman_est) * 1000000L div n_true) END")
              .as("chapman_err_ppm"),
            col("var_chapman"), col("se"),
            expr("chapman_est - 2 * se").as("ci_lo"),
            expr("chapman_est + 2 * se").as("ci_hi"),
            expr("CAST(CASE WHEN n_true BETWEEN chapman_est - 2 * se " +
              "AND chapman_est + 2 * se THEN 1 ELSE 0 END AS BIGINT)")
              .as("covered"))
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id FROM documents),
        s1 AS (SELECT doc_id FROM d
               WHERE ('0x' || substr(md5('q333A#' ||
                 CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                 % 1000000 < 300000),
        s2 AS (SELECT doc_id FROM d
               WHERE ('0x' || substr(md5('q333B#' ||
                 CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                 % 1000000 < 300000),
        st AS (SELECT
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_true,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n1,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
                 (SELECT CAST(COUNT(*) AS BIGINT)
                  FROM s1 WHERE doc_id IN (SELECT doc_id FROM s2)) AS m),
        est AS (SELECT *,
                  n1 * n2 // GREATEST(m, 1) AS lp_est,
                  (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS chapman_est,
                  (n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
                    // ((m + 1) * (m + 1) * (m + 2)) AS var_chapman
                FROM st),
        sq AS (SELECT *,
                 CAST(FLOOR(SQRT(CAST(var_chapman AS DOUBLE)))
                   AS BIGINT) AS r0
               FROM est),
        see AS (SELECT *,
                  r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= var_chapman
                    THEN 1 ELSE 0 END)
                     - (CASE WHEN r0 * r0 > var_chapman
                    THEN 1 ELSE 0 END) AS se
                FROM sq)
        SELECT n_true, n1, n2, m, lp_est, chapman_est,
               CASE WHEN lp_est >= n_true
                 THEN (lp_est - n_true) * 1000000 // n_true
                 ELSE -((n_true - lp_est) * 1000000 // n_true) END
                 AS lp_err_ppm,
               CASE WHEN chapman_est >= n_true
                 THEN (chapman_est - n_true) * 1000000 // n_true
                 ELSE -((n_true - chapman_est) * 1000000 // n_true) END
                 AS chapman_err_ppm,
               var_chapman, se,
               chapman_est - 2 * se AS ci_lo,
               chapman_est + 2 * se AS ci_hi,
               CAST(CASE WHEN n_true BETWEEN chapman_est - 2 * se
                 AND chapman_est + 2 * se THEN 1 ELSE 0 END AS BIGINT)
                 AS covered
        FROM see""")),

    // ---- q344: robust location under contamination ----
    // The robust-estimator member of the stats wing: corpus metadata
    // arrives corrupted at some rate (parse bugs, unit slips), and a
    // pipeline that monitors "mean doc length per source" on the plain
    // mean chases the corruption; the 10%-trimmed and winsorized means
    // do not — this gate MEASURES that, exactly. Plant: 2% of docs get
    // their length ×1000 (an md5 coin — the unit-slip simulation);
    // per source the card reports plain/trimmed/winsorized means (all
    // milli, exact integer: trim bounds lo = n div 10, hi = n − lo on
    // the (value, doc_id)-total-ordered rank; winsorize clamps to the
    // rank-(lo+1)/rank-hi values, summed as kept + lo·v_lo +
    // (n−hi)·v_hi), the CLEAN mean over unplanted rows as ground
    // truth, and each estimator's shift from clean in ppm. Measured
    // sf0.1: the plain mean sits 11–23× off clean (1.1e7–2.3e7 ppm
    // across sources) while the trimmed mean stays within 1.6%
    // (≤ 15,323 ppm) — the breakdown point, as a number per source.
    //
    // 100 TB posture: source-keyed rank windows (the per-group sort a
    // distributed engine does well), one conditional-agg pass — no
    // driver-side order statistics.
    "q344_robust_location" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            col("n_chars").cast(LongType).as("x"))
          .withColumn("planted",
            expr("CAST(CASE WHEN CAST(conv(substring(md5(concat(" +
              "'q344#', CAST(doc_id AS STRING))), 1, 12), 16, 10)" +
              " AS BIGINT) % 50 = 0 THEN 1 ELSE 0 END AS BIGINT)"))
          .withColumn("v",
            expr("CASE WHEN planted = 1 THEN x * 1000 ELSE x END"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("v"), col("doc_id"))
        val ranked = docs
          .withColumn("r", row_number().over(w).cast(LongType))
          .withColumn("n", count(lit(1))
            .over(Window.partitionBy(col("source"))))
          .withColumn("lo", expr("n div 10"))
          .withColumn("hi", expr("n - n div 10"))
          .localCheckpoint(false)
        ranked.groupBy(col("source"))
          .agg(max(col("n")).as("n_docs"),
            sum(col("planted")).as("n_planted"),
            sum(col("v")).as("sum_all"),
            sum(when(col("r") > col("lo") && col("r") <= col("hi"),
              col("v")).otherwise(0L)).as("sum_kept"),
            sum(when(col("r") > col("lo") && col("r") <= col("hi"), 1L)
              .otherwise(0L)).as("n_kept"),
            max(when(col("r") === col("lo") + 1L, col("v"))).as("v_lo"),
            max(when(col("r") === col("hi"), col("v"))).as("v_hi"),
            max(when(col("r") === expr("(n + 1) div 2"), col("v")))
              .as("median"),
            sum(when(col("planted") === 0L, col("v")).otherwise(0L))
              .as("sum_clean"),
            sum(when(col("planted") === 0L, 1L).otherwise(0L))
              .as("n_clean"),
            max(col("lo")).as("lo"), max(col("hi")).as("hi"))
          .select(col("source"), col("n_docs"), col("n_planted"),
            expr("sum_all * 1000 div n_docs").as("mean_milli"),
            expr("sum_kept * 1000 div n_kept").as("trim_mean_milli"),
            expr("(sum_kept + lo * v_lo + (n_docs - hi) * v_hi) * 1000" +
              " div n_docs").as("winsor_mean_milli"),
            (col("median") * 1000L).as("median_milli"),
            expr("sum_clean * 1000 div n_clean").as("clean_mean_milli"),
            expr("abs(sum_all * 1000 div n_docs - sum_clean * 1000" +
              " div n_clean) * 1000000 div (sum_clean * 1000" +
              " div n_clean)").as("mean_shift_ppm"),
            expr("abs(sum_kept * 1000 div n_kept - sum_clean * 1000" +
              " div n_clean) * 1000000 div (sum_clean * 1000" +
              " div n_clean)").as("trim_shift_ppm"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH d AS MATERIALIZED (
          SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x,
                 CASE WHEN ('0x' || substr(md5(concat('q344#',
                   CAST(doc_id AS VARCHAR))), 1, 12))::BIGINT % 50 = 0
                   THEN 1 ELSE 0 END AS planted
          FROM documents),
        v AS MATERIALIZED (
          SELECT doc_id, source, planted,
                 CASE WHEN planted = 1 THEN x * 1000 ELSE x END AS v
          FROM d),
        ranked AS MATERIALIZED (
          SELECT *,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY v, doc_id) AS BIGINT) AS r,
                 CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
          FROM v),
        b AS (SELECT *, n // 10 AS lo, n - n // 10 AS hi FROM ranked),
        agg AS (SELECT source,
                 MAX(n) AS n_docs,
                 CAST(SUM(planted) AS BIGINT) AS n_planted,
                 CAST(SUM(v) AS BIGINT) AS sum_all,
                 CAST(SUM(CASE WHEN r > lo AND r <= hi THEN v ELSE 0
                   END) AS BIGINT) AS sum_kept,
                 CAST(SUM(CASE WHEN r > lo AND r <= hi THEN 1 ELSE 0
                   END) AS BIGINT) AS n_kept,
                 MAX(CASE WHEN r = lo + 1 THEN v END) AS v_lo,
                 MAX(CASE WHEN r = hi THEN v END) AS v_hi,
                 MAX(CASE WHEN r = (n + 1) // 2 THEN v END) AS median,
                 CAST(SUM(CASE WHEN planted = 0 THEN v ELSE 0 END)
                   AS BIGINT) AS sum_clean,
                 CAST(SUM(CASE WHEN planted = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_clean,
                 MAX(lo) AS lo, MAX(hi) AS hi
                FROM b GROUP BY source)
        SELECT source, n_docs, n_planted,
               sum_all * 1000 // n_docs AS mean_milli,
               sum_kept * 1000 // n_kept AS trim_mean_milli,
               (sum_kept + lo * v_lo + (n_docs - hi) * v_hi) * 1000
                 // n_docs AS winsor_mean_milli,
               median * 1000 AS median_milli,
               sum_clean * 1000 // n_clean AS clean_mean_milli,
               ABS(sum_all * 1000 // n_docs - sum_clean * 1000
                 // n_clean) * 1000000 // (sum_clean * 1000 // n_clean)
                 AS mean_shift_ppm,
               ABS(sum_kept * 1000 // n_kept - sum_clean * 1000
                 // n_clean) * 1000000 // (sum_clean * 1000 // n_clean)
                 AS trim_shift_ppm
        FROM agg ORDER BY source""")),

    // ---- q347: Bernoulli two-table join-size estimation certificate ----
    // The ELEVENTH estimator-certificate family: before sizing a shuffle
    // join, a distributed optimizer estimates |A ⋈ B| — q255's AMS
    // sketch answers the SELF-join case; the two-table case is
    // classically answered by independent Bernoulli samples (p = q =
    // 1/16 md5 coins): E[|S_A ⋈ S_B|] = pq·J, so est = 256·|sample
    // join|. The join is orders ⋈ lineitem on DATE (order date = ship
    // date) — a genuinely non-trivial size (the FK join's size is just
    // |lineitem|), J = Σ_d n_o(d)·n_l(d) computed EXACTLY from the two
    // date censuses (a different algorithm than the estimator — the
    // certificate pattern). Four independent replicates with signed
    // err_ppm each and the deterministic lower-median flagged (the
    // q255 rank rule). Measured sf0.1: J = 3.60e7, replicate errors
    // +0.7% to +3.3% — the √-scale sampling noise theory predicts.
    //
    // 100 TB posture: the estimator never materializes the join —
    // sample-side date censuses + a date-keyed product-sum; the coins
    // are in-row md5s; the exact arm exists only as the certificate.
    "q347_join_size_estimate" -> QueryDef(
      build = (spark, dir) => {
        def coin(side: String, r: Int, key: String) =
          expr(s"CAST(conv(substring(md5(concat('q347$side$r#', " +
            s"CAST($key AS STRING))), 1, 12), 16, 10) AS BIGINT)" +
            s" % 16 = 0")
        val o = Tables.orders(spark, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
        val l = Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
            to_date(col("l_shipdate")).as("d"))
        def census(df: DataFrame) =
          df.groupBy(col("d")).agg(count(lit(1)).as("n"))
        val exact = census(o).withColumnRenamed("n", "no")
          .join(census(l).withColumnRenamed("n", "nl"), Seq("d"))
          .agg(sum(expr("CAST(no AS DECIMAL(38,0)) * nl"))
            .cast("long").as("exact_j"))
        val reps = (1 to 4).map { r =>
          val sa = census(o.filter(coin("A", r, "o_orderkey")))
            .withColumnRenamed("n", "no")
          val sb = census(l.filter(coin("B", r,
            "l_orderkey * 8 + l_linenumber"))).withColumnRenamed("n", "nl")
          sa.join(sb, Seq("d"))
            .agg(coalesce(sum(expr("CAST(no AS DECIMAL(38,0)) * nl")), lit(0))
              .cast("long").as("j_sample"))
            .select(lit(r.toLong).as("r"), col("j_sample"),
              (col("j_sample") * 256L).as("j_est"))
        }.reduce(_ unionAll _)
        val w = Window.orderBy(col("j_est"), col("r"))
        reps.crossJoin(broadcast(exact))
          .withColumn("err_ppm", expr(
            "CASE WHEN j_est >= exact_j THEN (j_est - exact_j)" +
              " * 1000000 div exact_j ELSE -((exact_j - j_est)" +
              " * 1000000 div exact_j) END"))
          .withColumn("is_median",
            (row_number().over(w) === 2).cast("long"))
          .select(col("r"), col("j_sample"), col("j_est"),
            col("exact_j"), col("err_ppm"), col("is_median"))
          .orderBy(col("r"))
      },
      oracle = Some("""
        WITH o AS MATERIALIZED (
          SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders),
        l AS MATERIALIZED (
          SELECT l_orderkey, l_linenumber,
                 CAST(l_shipdate AS DATE) AS d FROM lineitem),
        co AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS no FROM o GROUP BY 1),
        cl AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS nl FROM l GROUP BY 1),
        exact AS (SELECT CAST(SUM(CAST(no AS HUGEINT) * nl) AS BIGINT)
                    AS exact_j
                  FROM co JOIN cl USING (d)),
        reps AS (
          SELECT r.r,
                 CAST(COALESCE((
                   SELECT SUM(CAST(sa.no AS HUGEINT) * sb.nl)
                   FROM (SELECT d, COUNT(*) AS no FROM o
                         WHERE ('0x' || substr(md5(concat('q347A' ||
                           CAST(r.r AS VARCHAR) || '#',
                           CAST(o_orderkey AS VARCHAR))), 1, 12))::BIGINT
                           % 16 = 0
                         GROUP BY 1) sa
                   JOIN (SELECT d, COUNT(*) AS nl FROM l
                         WHERE ('0x' || substr(md5(concat('q347B' ||
                           CAST(r.r AS VARCHAR) || '#',
                           CAST(l_orderkey * 8 + l_linenumber
                             AS VARCHAR))), 1, 12))::BIGINT % 16 = 0
                         GROUP BY 1) sb USING (d)), 0) AS BIGINT)
                   AS j_sample
          FROM (SELECT CAST(UNNEST([1, 2, 3, 4]) AS BIGINT) AS r) r)
        SELECT r.r, r.j_sample, r.j_sample * 256 AS j_est, e.exact_j,
               CASE WHEN r.j_sample * 256 >= e.exact_j
                 THEN (r.j_sample * 256 - e.exact_j) * 1000000
                   // e.exact_j
                 ELSE -((e.exact_j - r.j_sample * 256) * 1000000
                   // e.exact_j) END AS err_ppm,
               CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY
                 r.j_sample * 256, r.r) = 2 THEN 1 ELSE 0 END AS BIGINT)
                 AS is_median
        FROM reps r CROSS JOIN exact e ORDER BY r.r"""))
  )

  /** Poisson(1) cumulative distribution in ppm (floor), k = 0..6 —
    * computed ONCE driver-side and embedded as identical integer
    * literals in the Spark plan and the DuckDB oracle text (the
    * benford2Ppm discipline), so the q299 bootstrap weight is a pure
    * integer count of thresholds cleared; mass beyond k = 7 is
    * ≈ 8·10⁻⁵ and truncates to weight 7. */
  lazy val poisson1CumPpm: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val probs = Iterator.iterate((e1, 0)) { case (p, k) =>
      (p / (k + 1), k + 1)
    }.map(_._1).take(7).toSeq
    probs.scanLeft(0.0)(_ + _).tail.map(c => math.floor(c * 1e6).toLong)
  }

  /** q255's oracle: exact bigram F2 plus the 16 unrolled AMS replicates
    * (sign from hex digit r of md5), median flagged by the same
    * (est, r) rank-8 rule. */
  private def amsOracle: String = {
    val branches = (1 to 16).map { r =>
      s"""
        SELECT CAST($r AS BIGINT) AS r,
               CAST(SUM(CASE WHEN instr('0123456789abcdef',
                   substring(md5(b), $r, 1)) - 1 >= 8
                 THEN f ELSE -f END) AS BIGINT) AS x
        FROM cnt"""
    }.mkString(" UNION ALL ")
    s"""
        WITH t AS (SELECT string_split(trim(text), ' ') AS t
                   FROM documents),
        bg AS (SELECT unnest(list_transform(range(1, GREATEST(len(t), 1)),
                        i -> t[i] || ' ' || t[i+1])) AS b
               FROM t WHERE len(t) >= 2),
        cnt AS MATERIALIZED (
          SELECT b, CAST(COUNT(*) AS BIGINT) AS f FROM bg GROUP BY 1),
        exact AS (SELECT CAST(SUM(f * f) AS BIGINT) AS exact_f2 FROM cnt),
        reps AS ($branches),
        est AS (SELECT r, x * x AS est_f2 FROM reps),
        med AS (SELECT r, est_f2,
                       ROW_NUMBER() OVER (ORDER BY est_f2, r) AS rk
                FROM est)
        SELECT m.r, m.est_f2, e.exact_f2,
               ABS(m.est_f2 - e.exact_f2) * 1000000 // e.exact_f2 AS err_ppm,
               m.rk = 8 AS is_median
        FROM med m CROSS JOIN exact e ORDER BY m.r"""
  }
}
