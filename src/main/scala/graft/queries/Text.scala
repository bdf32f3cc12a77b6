package graft.queries

import graft.core.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis corpus over the `documents` table — the operators a
  * large-scale training-data pipeline needs (token stats, quality scoring,
  * language ID, dedup signatures, fingerprints, n-gram Jaccard similarity).
  *
  * Everything is per-document column expressions (embarrassingly parallel,
  * codegen'd) except q44, whose shingle self-join is the exact-similarity
  * building block that q46's MinHash-LSH approximates at scale.
  */
object Text {

  private val EN = Seq("the", "a", "of", "to", "and")
  private val DE = Seq("der", "die", "das", "und", "ist")
  private val ES = Seq("el", "los", "las", "es", "y")
  private val FR = Seq("le", "les", "des", "est", "et")
  private val ZH = Seq("的", "了", "是", "在", "我")

  private def sqlStopCount(set: Seq[String]): String = {
    val list = set.map(s => s"'$s'").mkString(", ")
    s"len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x IN ($list)))"
  }

  /** q177's blocklist: literal phrases over the fixture vocabulary, every
    * one borderless (spec-verified) so automaton occurrence counts equal
    * the oracle's non-overlapping replace-counts. Declared before `defs`
    * (the oracle SQL interpolates it at object init). */
  val BlocklistPatterns: Seq[String] = Seq(
    "spark", "customer", "data line", "slow small", "merge part",
    "big join", "vector", "filter key", "query row", "line")

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q40: token statistics per document ----
    "q40_token_stats" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
        val toks = tokens(col("text"))
        d.select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(array_distinct(toks)).cast("long").as("n_distinct"),
            round(size(array_distinct(toks)).cast("double") / size(toks), 6).as("ttr"),
            round((col("n_chars") - (size(toks) - lit(1))).cast("double") / size(toks), 6)
              .as("avg_token_len"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct,
               ROUND(CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
                     / len(string_split_regex(trim(text), '\s+')), 6) AS ttr,
               ROUND(CAST(n_chars - (len(string_split_regex(trim(text), '\s+')) - 1) AS DOUBLE)
                     / len(string_split_regex(trim(text), '\s+')), 6) AS avg_token_len
        FROM documents ORDER BY doc_id""")),

    // ---- q41: quality scoring (length/stopword/diversity heuristics) ----
    "q41_text_quality" -> QueryDef(
      build = (spark, dir) => {
        val toks = tokens(col("text"))
        val nTok = size(toks).cast("double")
        val stopRatio  = stopwordCount(toks, EN).cast("double") / nTok
        val shortRatio = size(filter(toks, t => length(t) < 3)).cast("double") / nTok
        val ttr        = size(array_distinct(toks)).cast("double") / nTok
        val lenScore   = least(nTok / 100.0, lit(1.0))
        val score = lenScore * 0.3 + ttr * 0.3 + (lit(1.0) - shortRatio) * 0.2 +
          least(stopRatio * 10.0, lit(1.0)) * 0.2
        Tables.documents(spark, dir)
          .select(
            col("doc_id"), col("source"),
            round(stopRatio, 6).as("stop_ratio"),
            round(shortRatio, 6).as("short_ratio"),
            round(ttr, 6).as("ttr"),
            round(score, 6).as("quality"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tok,
                 CAST(${sqlStopCount(EN)} AS DOUBLE) AS n_stop,
                 CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                      x -> length(x) < 3)) AS DOUBLE) AS n_short,
                 CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS n_dist
          FROM documents)
        SELECT doc_id, source,
               ROUND(n_stop / n_tok, 6) AS stop_ratio,
               ROUND(n_short / n_tok, 6) AS short_ratio,
               ROUND(n_dist / n_tok, 6) AS ttr,
               ROUND(LEAST(n_tok / 100.0, 1.0) * 0.3 + (n_dist / n_tok) * 0.3 +
                     (1.0 - n_short / n_tok) * 0.2 +
                     LEAST((n_stop / n_tok) * 10.0, 1.0) * 0.2, 6) AS quality
        FROM t ORDER BY doc_id""")),

    // ---- q42: stopword-profile language ID (SQL-expressible variant; the
    //      character-n-gram classifier lives in graft.functions) ----
    "q42_langid" -> QueryDef(
      build = (spark, dir) => {
        val toks = tokens(col("text"))
        val cs = Map("en" -> EN, "de" -> DE, "es" -> ES, "fr" -> FR, "zh" -> ZH)
          .map { case (l, set) => l -> stopwordCount(toks, set) }
        val pred = when(cs("en") > 0 &&
            cs("en") >= cs("de") && cs("en") >= cs("es") &&
            cs("en") >= cs("fr") && cs("en") >= cs("zh"), "en")
          .when(cs("de") > 0 && cs("de") >= cs("es") &&
            cs("de") >= cs("fr") && cs("de") >= cs("zh"), "de")
          .when(cs("es") > 0 && cs("es") >= cs("fr") && cs("es") >= cs("zh"), "es")
          .when(cs("fr") > 0 && cs("fr") >= cs("zh"), "fr")
          .when(cs("zh") > 0, "zh")
          .otherwise("und")
        Tables.documents(spark, dir)
          .select(col("lang"), pred.as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("lang_pred"))
      },
      oracle = Some(s"""
        WITH s AS (
          SELECT lang,
                 ${sqlStopCount(EN)} AS c_en, ${sqlStopCount(DE)} AS c_de,
                 ${sqlStopCount(ES)} AS c_es, ${sqlStopCount(FR)} AS c_fr,
                 ${sqlStopCount(ZH)} AS c_zh
          FROM documents)
        SELECT lang,
               CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es
                         AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                    WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr
                         AND c_de >= c_zh THEN 'de'
                    WHEN c_es > 0 AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
                    WHEN c_fr > 0 AND c_fr >= c_zh THEN 'fr'
                    WHEN c_zh > 0 THEN 'zh'
                    ELSE 'und' END AS lang_pred,
               COUNT(*) AS n
        FROM s GROUP BY 1, 2 ORDER BY lang, lang_pred""")),

    // ---- q43: exact + bag-of-words dedup signatures ----
    "q43_dedup_exact" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
        val bow = concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))
        d.select(
            md5(col("text").cast("binary")).as("exact_sig"),
            md5(bow.cast("binary")).as("bow_sig"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("exact_sig")).as("n_exact_distinct"),
            countDistinct(col("bow_sig")).as("n_bow_distinct"))
      },
      oracle = Some("""
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(text)) AS n_exact_distinct,
               COUNT(DISTINCT md5(list_aggr(list_sort(list_distinct(
                 string_split_regex(trim(text), '\s+'))), 'string_agg', ' ')))
                 AS n_bow_distinct
        FROM documents""")),

    // ---- q44: exact n-gram Jaccard near-dup pairs (shingle join) ----
    // Inverted-index self-join on distinct 3-gram shingles: pairs sharing
    // at least one shingle are counted, Jaccard = |∩| / (|A|+|B|-|∩|).
    // This is the exact ground truth that q46's MinHash-LSH approximates;
    // at 100 TB you run q46 and reserve this for candidate verification.
    // (A groupBy(shash).collect_list posting-list form — one shuffle, no
    // sort-merge — was A/B'd at sf0.1 and measured equal-to-slower: the
    // per-group array allocation costs more than the join's sort saves.
    // The join form stands.)
    //
    // The join is NgramJaccard's naive co-shingle form, run directly: this
    // corpus sits 158× under the hot-shingle crossover where
    // PrefixFilterJoin would win (q352 gates that census), so the build
    // measures nothing and runs no Spark job once the session has read
    // the documents table (Tables caches its schema per session).
    "q44_ngram_jaccard" -> QueryDef(
      build = (spark, dir) => {
        // spread: shingling a single-split source would serialize on one
        // core before the join exchange (no-op at real scale).
        val d = Tables.spread(Tables.documents(spark, dir))
          .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
        // No n_sh > 0 filter: explode already drops empty/null shingle
        // arrays, and a size(shinglesexpr) predicate would be pushed BELOW
        // the spread exchange, running the shingle kernel once more in the
        // single un-spread scan task. Catalyst infers exactly that filter
        // for every explode (InferFiltersFromGenerate), so the session
        // factory excludes the rule (SparkSessionFactory.PlanConf) and
        // PlanGuardSpec pins the kernel above the spread.
        val sized = d.select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
        // Join on the shingle's 64-bit hash, not the string: the hash
        // projection runs map-side before the join exchange, so the shuffle
        // ships 8-byte longs instead of ~25-byte text trigrams and the join
        // compares longs. Exactness is preserved up to xxhash64 collisions
        // within the co-shingled vocabulary (≤64k distinct trigrams here →
        // P[any collision] ~ 1e-10), and the DuckDB oracle hash-compare
        // would catch one — the gate doubles as the collision check.
        val ex = sized.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("shingle"))
          .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("shash"))
        // The hash stream is persisted across both join sides (see
        // NgramJaccard.similarPairs) so the shingle map runs once.
        graft.operators.NgramJaccard.similarPairs(ex, 0.2)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      oracle = Some(Det.sqlJaccardPairs("0.2", "")),
      headline = true),

    // ---- q352: the shingle-join census behind q44's one form (round 13) ----
    // q44 runs the naive co-shingle join only. This card is the census
    // that justifies running one form: it computes the EXACT statistic
    // that decides between the naive join and PrefixFilterJoin —
    // candidate co-occurrence mass Σ df(df−1)/2 per doc — plus the
    // crossover constant and the form that would win. The oracle replays
    // the census with STRING shingles (doubling as the xxhash collision
    // check, like q44 itself) and the same literal crossover, so a drifted
    // shingle kernel, a broken mass formula, or a corpus that drifts into
    // the prefix regime all hash-mismatch. Decision on this corpus:
    // 'naive' at every SF INCLUDING the sf1 rehearsal (cross-copy
    // vocabularies are disjoint by fixture design, so mass/doc stays ~flat
    // at 10×); the regime where prefix wins, docs²·|boilerplate|
    // co-shingle growth, is measured in BASELINE.md's "prefixjoin" probe
    // table where the 4e4 constant was calibrated.
    //
    // 100 TB posture: one shingle-keyed count agg (partial/final) +
    // two 1-row aggregates.
    "q352_router_decision" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.spread(Tables.documents(spark, dir))
          .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
        val ex = d
          .select(col("doc_id"), explode(col("sh")).as("shingle"))
          .select(col("doc_id"), xxhash64(col("shingle")).as("shash"))
        val dfc = ex.groupBy(col("shash")).agg(count(lit(1)).as("df"))
        val mass = dfc.agg(coalesce(sum(expr("df * (df - 1) div 2")),
          lit(0L)).as("shingle_mass"))
        val nd = ex.agg(countDistinct(col("doc_id")).as("n_docs"))
        // the measured naive/prefix crossover, 4e4 candidate pairs per
        // doc (BASELINE.md "Prefix-filtered exact join"), in milli units
        val xoMilli = 40000000L
        nd.crossJoin(broadcast(mass))
          .withColumn("mass_per_doc_milli",
            expr("shingle_mass * 1000 div n_docs"))
          .select(col("n_docs"), col("shingle_mass"),
            col("mass_per_doc_milli"),
            lit(xoMilli).as("crossover_milli"),
            when(col("mass_per_doc_milli") > xoMilli, "prefix")
              .otherwise("naive").as("decision"))
      },
      oracle = Some(s"""
        WITH sh AS (
          SELECT doc_id,
                 ${Det.sqlShingles} AS shingles
          FROM documents),
        ex AS (
          SELECT doc_id, UNNEST(shingles) AS shingle
          FROM sh WHERE len(shingles) > 0),
        dfc AS (SELECT shingle, COUNT(*) AS df FROM ex GROUP BY 1),
        m AS (SELECT CAST(COALESCE(SUM(df * (df - 1) // 2), 0) AS BIGINT)
                AS shingle_mass FROM dfc),
        nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM ex)
        SELECT nd.n_docs, m.shingle_mass,
               m.shingle_mass * 1000 // nd.n_docs AS mass_per_doc_milli,
               CAST(40000000 AS BIGINT) AS crossover_milli,
               CASE WHEN m.shingle_mass * 1000 // nd.n_docs > 40000000
                 THEN 'prefix' ELSE 'naive' END AS decision
        FROM nd CROSS JOIN m""")),

    // ---- q49: char-n-gram language ID distribution ----
    // Content-based heuristic classifier (TextFunctions.charNgramLangId).
    // The synthetic corpus text is English-ish regardless of its `lang`
    // label, so the interesting output is the predicted distribution plus
    // how often the prediction agrees with the label. The classifier has
    // no SQL equivalent (LangIdSpec asserts real classification on
    // planted per-language sentences); Verify materializes the
    // Spark-computed predictions and DuckDB re-aggregates them.
    "q49_charngram_langid" -> QueryDef(
      build = (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("lang"), charNgramLangId(col("text")).as("predicted"))
          .groupBy(col("predicted"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang") === col("predicted"), 1L).otherwise(0L))
              .as("n_label_match"))
          .orderBy(col("predicted")),
      oracle = Some(s"""
        SELECT predicted, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN lang = predicted THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_label_match
        FROM ${VerifyInputs.staged("_q49_input")}
        GROUP BY predicted ORDER BY predicted""")),

    // ---- q48: token counting, whitespace + BPE-ish regex ----
    // The regex pretokenizer (letter runs | digit runs | punctuation runs)
    // is the standard pre-BPE segmentation; both engines evaluate the same
    // pattern so counts oracle-match exactly.
    "q48_token_count" -> QueryDef(
      build = (spark, dir) => {
        val pat = lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+")
        val bpe = regexp_extract_all(col("text"), pat, lit(0))
        Tables.documents(spark, dir)
          .select(
            col("doc_id"),
            size(tokens(col("text"))).cast("long").as("ws_tokens"),
            size(bpe).cast("long").as("bpe_tokens"),
            size(array_distinct(bpe)).cast("long").as("bpe_distinct"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))
                 AS bpe_tokens,
               len(list_distinct(regexp_extract_all(text,
                 '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))) AS bpe_distinct
        FROM documents ORDER BY doc_id""")),

    // ---- q59: corpus curation capstone (quality → dedup → profile) ----
    // The end-to-end training-data path in one declarative plan: score
    // quality (q41's heuristics), drop below-threshold docs, keep one
    // representative per exact-duplicate group (min doc_id over md5(text)),
    // profile the surviving corpus per language label. Entirely
    // SQL-expressible, so the whole composition is oracle-checked.
    "q59_corpus_curation" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types._
        val toks = tokens(col("text"))
        val nTok = size(toks).cast("double")
        val stopRatio  = stopwordCount(toks, EN).cast("double") / nTok
        val shortRatio = size(filter(toks, t => length(t) < 3)).cast("double") / nTok
        val ttr        = size(array_distinct(toks)).cast("double") / nTok
        val score = least(nTok / 100.0, lit(1.0)) * 0.3 + ttr * 0.3 +
          (lit(1.0) - shortRatio) * 0.2 + least(stopRatio * 10.0, lit(1.0)) * 0.2
        val w = Window.partitionBy(col("sig")).orderBy(col("doc_id"))
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("text"),
            round(score, 6).as("quality"))
          .filter(col("quality") >= 0.55)
          .withColumn("sig", md5(col("text").cast("binary")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            round(sum(col("quality").cast(DecimalType(28, 6))).cast(DoubleType) /
              count(lit(1)), 6).as("avg_quality"),
            min(col("doc_id")).as("first_doc"))
          .orderBy(col("lang"))
      },
      oracle = Some(s"""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 ROUND(LEAST(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.3 +
                       (CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
                        / len(string_split_regex(trim(text), '\\s+'))) * 0.3 +
                       (1.0 - CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> length(x) < 3)) AS DOUBLE)
                        / len(string_split_regex(trim(text), '\\s+'))) * 0.2 +
                       LEAST((CAST(${sqlStopCount(EN)} AS DOUBLE)
                        / len(string_split_regex(trim(text), '\\s+'))) * 10.0, 1.0) * 0.2, 6)
                   AS quality
          FROM documents),
        kept AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM scored WHERE quality >= 0.55)
        SELECT lang, COUNT(*) AS n_kept,
               ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
                 AS avg_quality,
               MIN(doc_id) AS first_doc
        FROM kept WHERE rn = 1
        GROUP BY lang ORDER BY lang"""),
      headline = true),

    // ---- q45: deterministic document fingerprint (rolling hash) ----
    "q45_fingerprint" -> QueryDef(
      build = (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id,
               list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split(text, ''),
                 x -> CAST(ascii(x) AS BIGINT)), (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        FROM documents ORDER BY doc_id""")),

    // ---- q110: per-document token entropy (repetitiveness signal) ----
    // Shannon entropy of each doc's token distribution,
    // H = ln(n) − (Σ c·ln c)/n over per-doc term counts — the standard
    // low-entropy filter for template/boilerplate/keyword-stuffed docs
    // (complements q83's Gopher repetition fractions and q88's
    // corpus-level unigram NLL: entropy is per-doc, vocabulary-free).
    // Determinism: each term's c·ln(c) is rounded to 9 dp and the per-doc
    // sum accumulates in exact decimal, so the result is independent of
    // summation order in both engines (the q101 transcendental-rounding
    // precedent); ln(n) − sum/n is then identical IEEE arithmetic.
    //
    // 100 TB posture: map-side token explode → ONE (doc_id, token)
    // partial→final count agg → per-doc rollup reusing the doc_id
    // clustering (subset rule — no second exchange); bottom-k via
    // TakeOrderedAndProject. No vocabulary table, no broadcast, nothing
    // proportional to corpus vocabulary.
    "q110_token_entropy" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        Tables.documents(spark, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(round(col("c").cast("double") * log(col("c").cast("double")), 9)
              .cast(DecimalType(28, 9))).cast("double").as("sum_clnc"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            round(log(col("n_tokens").cast("double"))
              - col("sum_clnc") / col("n_tokens"), 6).as("entropy"))
          .orderBy(col("entropy").asc, col("doc_id").asc)
          .limit(20)
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
                   FROM documents),
        tc AS (SELECT doc_id, token, COUNT(*) AS c FROM t GROUP BY 1, 2),
        d AS (SELECT doc_id,
                     CAST(SUM(c) AS BIGINT) AS n_tokens,
                     COUNT(*) AS n_types,
                     CAST(SUM(CAST(ROUND(c * LN(c), 9) AS DECIMAL(28,9)))
                       AS DOUBLE) AS sum_clnc
              FROM tc GROUP BY 1)
        SELECT doc_id, n_tokens, n_types,
               ROUND(LN(n_tokens) - sum_clnc / n_tokens, 6) AS entropy
        FROM d ORDER BY entropy ASC, doc_id ASC LIMIT 20""")),

    // ---- q177: multi-pattern blocklist scan (Aho–Corasick) ----
    // Per blocklist phrase: how many documents contain it and how many
    // total occurrences exist — the blocklist-filtering / safety-term
    // audit primitive. The engine path scans each document ONCE through
    // a driver-built Aho–Corasick automaton (O(len + matches) per row,
    // independent of pattern count); the oracle computes the same counts
    // with one rescan per pattern (replace-count), which is what the
    // automaton replaces at real blocklist sizes (10^4+ phrases). The
    // two agree because every gate pattern is borderless (no proper
    // prefix = suffix ⇒ overlapping occurrences impossible) —
    // MultiPatternMatchSpec proves borderlessness and path equality.
    //
    // 100 TB posture: the automaton (Σ pattern lengths) ships once per
    // executor in the closure; the scan is map-side; the only shuffle is
    // the |patterns|-cardinality count aggregation. Pattern count scales
    // without re-reading the corpus — see BASELINE.md "Multi-pattern
    // blocklist scan".
    // HEADLINE SINCE ROUND 7: tracks the automaton-scan cost
    // round-over-round (BENCH totals grow by its ~0.3 s by
    // construction, like q139's addition in round 6).
    "q177_blocklist_scan" -> QueryDef(
      headline = true,
      build = (spark, dir) => {
        val pats = BlocklistPatterns
        graft.operators.MultiPatternMatch
          .withMatchCounts(Tables.documents(spark, dir), "text", pats)
          .select(col("doc_id"), posexplode(col("pattern_hits")))
          .toDF("doc_id", "pid", "cnt")
          .groupBy(col("pid"))
          .agg(count(when(col("cnt") > 0, 1)).as("n_docs"),
            sum(col("cnt")).as("n_matches"))
          .select(
            element_at(array(pats.map(lit): _*), col("pid").cast("int") + 1)
              .as("pattern"),
            col("n_docs"), col("n_matches"))
          .orderBy(col("pattern"))
      },
      oracle = Some(s"""
        WITH p AS (SELECT * FROM (VALUES ${BlocklistPatterns.map(p => s"('$p')").mkString(", ")}) t(pattern)),
        m AS (SELECT p.pattern,
                     (LENGTH(d.text) - LENGTH(REPLACE(d.text, p.pattern, '')))
                       // LENGTH(p.pattern) AS cnt
              FROM documents d CROSS JOIN p)
        SELECT pattern,
               COUNT(CASE WHEN cnt > 0 THEN 1 END) AS n_docs,
               CAST(SUM(cnt) AS BIGINT) AS n_matches
        FROM m GROUP BY pattern ORDER BY pattern""")),

    // ---- q203: n-gram repetition score (the Gopher repetition class) ----
    // Looping/templated text is the classic LLM-corpus poison: score
    // each doc by its duplicate-trigram fraction (1 − distinct/total,
    // in integer ppm — the exact-ratio rule, no FP division) and roll up
    // per source: docs over the 500k-ppm repetition bar, the corpus-wide
    // duplicate fraction (sums cross-multiplied BEFORE one integer
    // division), and the worst doc per source (max ppm, doc_id
    // tie-break via a min over the argmax set — engine-identical).
    //
    // 100 TB posture: trigram stats are a per-doc map-side
    // aggregate-of-array (no explode ever leaves the row — the distinct
    // count runs on the sorted gram array inside one expression), so
    // the only shuffle is the |sources|-cardinality rollup.
    "q203_repetition_score" -> QueryDef(
      build = (spark, dir) => {
        val toks = split(trim(col("text")), " ")
        val grams = transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", slice(toks, i + 1, lit(3))))
        val d = Tables.documents(spark, dir)
          .filter(size(toks) >= 3)
          .select(col("doc_id"), col("source"),
            size(grams).cast("long").as("total"),
            size(array_distinct(grams)).cast("long").as("dist"))
          .withColumn("rep_ppm",
            expr("((total - dist) * 1000000) div total"))
        d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rep_ppm") > 500000L, 1L).otherwise(0L))
              .as("n_loopy"),
            sum(col("total")).as("grams_total"),
            sum(col("total") - col("dist")).as("grams_dup"),
            max(col("rep_ppm")).as("worst_ppm"))
          .withColumn("corpus_dup_ppm",
            expr("(grams_dup * 1000000) div grams_total"))
          .join(d.groupBy(col("source"))
            .agg(max(col("rep_ppm")).as("m"))
            .join(d, Seq("source"))
            .filter(col("rep_ppm") === col("m"))
            .groupBy(col("source"))
            .agg(min(col("doc_id")).as("worst_doc")), Seq("source"))
          .select(col("source"), col("n_docs"), col("n_loopy"),
            col("corpus_dup_ppm"), col("worst_ppm"), col("worst_doc"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, source,
                          string_split(trim(text), ' ') AS toks
                   FROM documents),
        g AS (SELECT doc_id, source,
                     list_transform(generate_series(1, len(toks) - 2),
                       i -> array_to_string(toks[i:i+2], ' ')) AS grams
              FROM t WHERE len(toks) >= 3),
        d AS (SELECT doc_id, source,
                     CAST(len(grams) AS BIGINT) AS total,
                     CAST(len(list_distinct(grams)) AS BIGINT) AS dist
              FROM g),
        r AS (SELECT *, ((total - dist) * 1000000) // total AS rep_ppm
              FROM d),
        agg AS (SELECT source, COUNT(*) AS n_docs,
                       CAST(SUM(CASE WHEN rep_ppm > 500000 THEN 1 ELSE 0
                         END) AS BIGINT) AS n_loopy,
                       CAST(SUM(total) AS BIGINT) AS grams_total,
                       CAST(SUM(total - dist) AS BIGINT) AS grams_dup,
                       MAX(rep_ppm) AS worst_ppm
                FROM r GROUP BY source),
        w AS (SELECT r.source, MIN(r.doc_id) AS worst_doc
              FROM r JOIN (SELECT source, MAX(rep_ppm) AS m FROM r
                           GROUP BY source) mx
                ON mx.source = r.source AND r.rep_ppm = mx.m
              GROUP BY r.source)
        SELECT a.source, a.n_docs, a.n_loopy,
               (a.grams_dup * 1000000) // a.grams_total AS corpus_dup_ppm,
               a.worst_ppm, w.worst_doc
        FROM agg a JOIN w ON w.source = a.source
        ORDER BY a.source""")),

    // ---- q292: prompt-prefix cache audit ----
    // The KV-cache question inference serving asks of a corpus: how
    // much prefix mass repeats? Documents sharing an opening token run
    // can reuse one cached prefill, so the card ranks the top-20
    // 8-token prefixes by document count and prices the cache: each
    // cached prefix saves (n_docs − 1)·|prefix| prefill tokens, and
    // the corpus totals (coverage of docs, savings as ppm of all
    // corpus tokens) ride every row. Prefix extraction is an in-row
    // slice+concat (codegen'd, no explode); the count is one keyed
    // agg; top-20 is a TakeOrdered heap — never a global sort.
    //
    // 100 TB posture: one (prefix) keyed count over the scan, per-
    // partition top-k heaps, 1-row totals broadcast; the checkpoint cut
    // keeps the corpus pass single.
    "q292_prefix_cache_audit" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.documents(spark, dir)
          .select(split(trim(col("text")), " ").as("t"))
          .select(concat_ws(" ", slice(col("t"), 1, 8)).as("prefix"),
            least(size(col("t")), lit(8)).cast("long").as("pfx_tokens"),
            size(col("t")).cast("long").as("n_tokens"))
          .localCheckpoint(false)
        val pc = d.groupBy(col("prefix"), col("pfx_tokens"))
          .agg(count(lit(1)).as("n_docs"))
        val top = pc.orderBy(col("n_docs").desc, col("prefix")).limit(20)
          .localCheckpoint(false)
        val tot = d.agg(count(lit(1)).as("total_docs"),
          sum(col("n_tokens").cast(DecimalType(38, 0)))
            .as("total_tokens"))
        val cov = top.agg(sum(col("n_docs")).as("covered_docs"),
          sum((col("n_docs") - 1) * col("pfx_tokens")).as("saved"))
        top.crossJoin(broadcast(tot)).crossJoin(broadcast(cov))
          .select(col("prefix"), col("n_docs"), col("pfx_tokens"),
            ((col("n_docs") - 1) * col("pfx_tokens")).as("saved_tokens"),
            col("covered_docs"),
            expr("covered_docs * 1000000 div total_docs")
              .as("covered_ppm"),
            expr("CAST(CAST(saved AS DECIMAL(38,0)) * 1000000" +
              " div total_tokens AS BIGINT)").as("saved_ppm"))
          .orderBy(col("n_docs").desc, col("prefix"))
      },
      oracle = Some("""
        WITH d AS (SELECT array_to_string(
                            string_split(trim(text), ' ')[1:8], ' ')
                            AS prefix,
                          LEAST(CAST(len(string_split(trim(text), ' '))
                            AS BIGINT), 8) AS pfx_tokens,
                          CAST(len(string_split(trim(text), ' '))
                            AS BIGINT) AS n_tokens
                   FROM documents),
        pc AS (SELECT prefix, pfx_tokens,
                      CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM d GROUP BY 1, 2),
        top AS (SELECT * FROM pc
                ORDER BY n_docs DESC, prefix LIMIT 20),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
                       CAST(SUM(n_tokens) AS HUGEINT) AS total_tokens
                FROM d),
        cov AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS covered_docs,
                       CAST(SUM((n_docs - 1) * pfx_tokens) AS BIGINT)
                         AS saved
                FROM top)
        SELECT prefix, n_docs, pfx_tokens,
               (n_docs - 1) * pfx_tokens AS saved_tokens,
               covered_docs,
               covered_docs * 1000000 // total_docs AS covered_ppm,
               CAST(CAST(saved AS HUGEINT) * 1000000 // total_tokens
                 AS BIGINT) AS saved_ppm
        FROM top CROSS JOIN tot CROSS JOIN cov
        ORDER BY n_docs DESC, prefix""")),

    // ---- q295: term burstiness (dispersion) card ----
    // The second-order term statistic frequency alone cannot see
    // (Church & Gale '95): a CONTENT word arrives in bursts — absent
    // from most documents, repeated hard where its topic lives — while
    // a FUNCTION word spreads evenly; their raw counts can be
    // identical. The dispersion test is the variance-to-mean ratio of
    // per-document counts (VMR = 1 under Poisson/even spread, ≫ 1 for
    // bursty terms), computed here in EXACT integers over the dense
    // per-doc count vector (zeros included: VMR_milli = (D·Σc² −
    // (Σc)²)·1000 div (D·Σc) — the q243 varq form over D docs) for the
    // top-20 terms by document frequency, with the burst verdict at
    // VMR ≥ 2 published per term. Burstiness drives stopword discovery,
    // keyword extraction, and the IDF-variant choice in retrieval.
    //
    // 100 TB posture: one (term, doc) keyed count + one term-keyed
    // moment agg (zeros enter algebraically via D — the dense vector is
    // never materialized); top-20 is a TakeOrdered heap; products ride
    // DECIMAL(38,0)/HUGEINT.
    "q295_term_burstiness" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val td = Tables.documents(spark, dir)
          .select(col("doc_id"),
            explode(split(trim(col("text")), " ")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("c"))
        val tot = Tables.documents(spark, dir)
          .agg(count(lit(1)).as("d_docs"))
        val st = td.groupBy(col("term"))
          .agg(count(lit(1)).as("df"),
            sum(col("c")).as("tf"),
            sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("s2"))
        st.orderBy(col("df").desc, col("term")).limit(20)
          .crossJoin(broadcast(tot))
          .withColumn("vmr_milli", expr(
            "CAST((CAST(d_docs AS DECIMAL(38,0)) * s2" +
              " - CAST(tf AS DECIMAL(38,0)) * tf) * 1000" +
              " div (CAST(d_docs AS DECIMAL(38,0)) * tf) AS BIGINT)"))
          .select(col("term"), col("df"), col("tf"), col("d_docs"),
            col("vmr_milli"),
            when(col("vmr_milli") >= 2000L, "bursty")
              .otherwise("even").as("verdict"))
          .orderBy(col("df").desc, col("term"))
      },
      oracle = Some("""
        WITH td AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
                    FROM (SELECT doc_id,
                                 UNNEST(string_split(trim(text), ' '))
                                   AS term
                          FROM documents)
                    WHERE len(term) > 0 GROUP BY 1, 2),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d_docs
                FROM documents),
        st AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                      CAST(SUM(c) AS BIGINT) AS tf,
                      CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
               FROM td GROUP BY 1),
        top AS (SELECT * FROM st ORDER BY df DESC, term LIMIT 20)
        SELECT term, df, tf, d_docs,
               CAST((CAST(d_docs AS HUGEINT) * s2
                 - CAST(tf AS HUGEINT) * tf) * 1000
                 // (CAST(d_docs AS HUGEINT) * tf) AS BIGINT)
                 AS vmr_milli,
               CASE WHEN CAST((CAST(d_docs AS HUGEINT) * s2
                 - CAST(tf AS HUGEINT) * tf) * 1000
                 // (CAST(d_docs AS HUGEINT) * tf) AS BIGINT) >= 2000
                 THEN 'bursty' ELSE 'even' END AS verdict
        FROM top CROSS JOIN tot
        ORDER BY df DESC, term""")),

    // ---- q307: Weight-of-Evidence / Information-Value feature screen --
    // The industry feature-screening statistic (credit-scoring lineage,
    // now standard for ANY binary-label tabular screen): per feature,
    // per monotone bin, WoE = ln((g/P)/(b/N)), and the feature's
    // Information Value IV = Σ_bins (g/P − b/N)·WoE with the published
    // interpretation bands (<0.02 useless / <0.1 weak / <0.3 medium /
    // else strong). Distinct from q216 (which finds ONE best split
    // threshold on one feature by entropy): IV ranks WHOLE features by
    // total separation across all bins — the screen you run across a
    // feature catalog BEFORE training anything. Here the label is
    // q233's exact labeler rule (rate of {'the','a'} ≥ 66‰), so the
    // screen answers "which catalog features carry the labeler's
    // signal": the 5-stopword count reads strong (it shares two terms
    // with the rule) while the pure length bands read useless — the
    // dynamic range the statistic exists to expose, and the sanity
    // check you want before spending q233's training rounds.
    // Zero-cell bins get the standard half-count
    // smoothing, as the exact rational (2g+1)·N / ((2b+1)·P) fed to
    // one ln (rounded once to 9 dp — the q216 portability move, then
    // micro-nat integers); share deltas are truncated ppm, so the IV
    // sum is pure integer arithmetic with one sign-safe final division.
    //
    // 100 TB posture: ONE corpus pass builds the stacked
    // (feature, bin) census (3 map-side literals per row, keyed
    // partial/final agg onto ≤30 cells); everything downstream runs on
    // the census. No products exceed int64 (shares are ppm-bounded).
    "q307_woe_iv_screen" -> QueryDef(
      build = (spark, dir) => {
        val toks = tokens(col("text"))
        val base = Tables.documents(spark, dir).select(
          stopwordCount(toks, Seq("the", "a")).cast("long").as("s2"),
          size(toks).cast("long").as("nt"),
          least(expr("n_chars div 100"), lit(9L)).as("f_len"),
          least(stopwordCount(toks, EN).cast("long"), lit(9L))
            .as("f_stop"),
          least((size(toks) / 10).cast("long"), lit(9L)).as("f_tok"))
          .select(expr(
            "CAST(CASE WHEN s2 * 1000 div nt >= 66 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("pos"),
            col("f_len"), col("f_stop"), col("f_tok"))
          .localCheckpoint()
        val census = Seq("f_len" -> "len_band", "f_stop" -> "stop_count",
          "f_tok" -> "tok_band").map { case (c, nm) =>
          base.select(lit(nm).as("feature"), col(c).as("bin"),
            col("pos"))
        }.reduce(_ unionByName _)
          .groupBy(col("feature"), col("bin"))
          .agg(sum(col("pos")).as("n_pos"),
            (count(lit(1)) - sum(col("pos"))).as("n_neg"))
        val tot = base.agg(sum(col("pos")).as("p"),
          (count(lit(1)) - sum(col("pos"))).as("nn"))
        val bs = census.crossJoin(broadcast(tot))
          .withColumn("woe_micro", expr(
            // doubles BEFORE the count products — (2g+1)·N wraps int64
            // near 10¹² rows (the q258 lesson); the ratio feeds ln, so
            // IEEE double products are the right precision anyway
            "CAST(ROUND(ROUND(LN(CAST(2 * n_pos + 1 AS DOUBLE) * nn" +
              " / (CAST(2 * n_neg + 1 AS DOUBLE) * p)), 9)" +
              " * 1000000, 0) AS BIGINT)"))
          .withColumn("d_ppm", expr(
            "n_pos * 1000000 div p - n_neg * 1000000 div nn"))
        val iv = bs.groupBy(col("feature"))
          .agg(sum(col("d_ppm") * col("woe_micro")).as("sp"))
          .withColumn("iv_milli", expr(
            "CAST(CASE WHEN sp >= 0 THEN sp div 1000000000" +
              " ELSE -((-sp) div 1000000000) END AS BIGINT)"))
          .withColumn("strength",
            when(col("iv_milli") < 20L, "useless")
              .when(col("iv_milli") < 100L, "weak")
              .when(col("iv_milli") < 300L, "medium")
              .otherwise("strong"))
          .select(col("feature"), col("iv_milli"), col("strength"))
        bs.join(iv, "feature")
          .select(col("feature"), col("bin"), col("n_pos"), col("n_neg"),
            col("woe_micro"), col("iv_milli"), col("strength"))
          .orderBy(col("feature"), col("bin"))
      },
      oracle = Some("""
        WITH tk AS (
          SELECT n_chars, string_split_regex(trim(text), '\s+') AS w
          FROM documents),
        base AS (
          SELECT CASE WHEN len(list_filter(w, t -> t IN ('the', 'a')))
                   * 1000 // len(w) >= 66 THEN 1 ELSE 0 END AS pos,
                 LEAST(n_chars // 100, 9) AS f_len,
                 LEAST(len(list_filter(w,
                   t -> t IN ('the', 'a', 'of', 'to', 'and'))), 9)
                   AS f_stop,
                 LEAST(len(w) // 10, 9) AS f_tok
          FROM tk),
        census AS (
          SELECT feature, bin, CAST(SUM(pos) AS BIGINT) AS n_pos,
                 CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg
          FROM (
            SELECT 'len_band' AS feature, CAST(f_len AS BIGINT) AS bin,
                   pos FROM base
            UNION ALL
            SELECT 'stop_count', CAST(f_stop AS BIGINT), pos FROM base
            UNION ALL
            SELECT 'tok_band', CAST(f_tok AS BIGINT), pos FROM base)
          GROUP BY 1, 2),
        tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
                       CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn
                FROM base),
        bs AS (
          SELECT feature, bin, n_pos, n_neg,
                 CAST(ROUND(ROUND(LN(CAST(2 * n_pos + 1 AS DOUBLE) * nn
                   / (CAST(2 * n_neg + 1 AS DOUBLE) * p)), 9)
                   * 1000000, 0) AS BIGINT) AS woe_micro,
                 n_pos * 1000000 // p - n_neg * 1000000 // nn AS d_ppm
          FROM census CROSS JOIN tot),
        iv AS (
          SELECT feature,
                 CAST(CASE WHEN SUM(d_ppm * woe_micro) >= 0
                   THEN SUM(d_ppm * woe_micro) // 1000000000
                   ELSE -((-SUM(d_ppm * woe_micro)) // 1000000000)
                   END AS BIGINT) AS iv_milli
          FROM bs GROUP BY 1)
        SELECT bs.feature, bs.bin, bs.n_pos, bs.n_neg, bs.woe_micro,
               iv.iv_milli,
               CASE WHEN iv.iv_milli < 20 THEN 'useless'
                 WHEN iv.iv_milli < 100 THEN 'weak'
                 WHEN iv.iv_milli < 300 THEN 'medium'
                 ELSE 'strong' END AS strength
        FROM bs JOIN iv USING (feature)
        ORDER BY bs.feature, bs.bin""")),

    // ---- q312: lexical-cohesion chunking (TextTiling) ----
    // The THIRD chunking family, and the one RAG pipelines actually
    // want: q65 cuts at fixed stride (splits mid-topic), q119 cuts
    // where content HASHES say so (dedup-stable, topic-blind); Hearst's
    // TextTiling cuts where the text's own lexical cohesion dips — a
    // topic boundary is a valley in the similarity between adjacent
    // token blocks. Per document: 8-token blocks, gap cohesion =
    // Jaccard of adjacent blocks' token sets in truncated ppm, valley
    // depth = rise to the left + rise to the right (edge gaps
    // contribute zero rise on their missing side), boundary where
    // depth exceeds the document's OWN mean depth (the per-doc
    // adaptive threshold, exact integers: depth·n_gaps > Σdepth).
    // Output is the corpus card: boundaries-per-document histogram +
    // totals — the distribution a chunking rollout reviews before
    // re-indexing a corpus.
    //
    // 100 TB posture: everything is doc-local — one posexplode, a
    // (doc, blk, tok) distinct, ONE self-join keyed on (doc, tok)
    // restricted to adjacent blocks (never block×block), per-doc
    // windows, then a keyed histogram. No stage sees more than a
    // document's tokens in a group.
    "q312_texttiling_chunks" -> QueryDef(
      build = (spark, dir) => {
        val bt = Tables.documents(spark, dir)
          .select(col("doc_id"), posexplode(tokens(col("text")))
            .as(Seq("pos", "tok")))
          .filter(length(col("tok")) > 0)
          .select(col("doc_id"), expr("pos div 8").as("blk"), col("tok"))
          .distinct()
          .localCheckpoint()
        val sizes = bt.groupBy(col("doc_id"), col("blk"))
          .agg(count(lit(1)).as("n"))
        val inter = bt.as("a").join(bt.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("a.tok") === col("b.tok") &&
            col("b.blk") === col("a.blk") + 1)
          .groupBy(col("a.doc_id").as("doc_id"), col("a.blk").as("blk"))
          .agg(count(lit(1)).as("inter"))
        val gaps = sizes.as("s").join(
            sizes.select(col("doc_id"), (col("blk") - 1).as("blk"),
              col("n").as("n2")).as("t"), Seq("doc_id", "blk"))
          .join(inter, Seq("doc_id", "blk"), "left")
          .withColumn("inter", coalesce(col("inter"), lit(0L)))
          .withColumn("c_ppm", expr(
            "inter * 1000000 div (n + n2 - inter)"))
        val wd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("blk"))
        val depth = gaps
          .withColumn("cl", lag(col("c_ppm"), 1).over(wd))
          .withColumn("cr", lead(col("c_ppm"), 1).over(wd))
          .withColumn("depth",
            greatest(coalesce(col("cl"), col("c_ppm")) - col("c_ppm"),
              lit(0L)) +
              greatest(coalesce(col("cr"), col("c_ppm")) - col("c_ppm"),
                lit(0L)))
        val perDoc = depth.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_gaps"), sum(col("depth")).as("sd"))
        val bounds = depth.join(perDoc, "doc_id")
          .filter(col("depth") * col("n_gaps") > col("sd") &&
            col("depth") > 0L)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bounds"))
        val docs = perDoc.join(bounds, Seq("doc_id"), "left")
          .withColumn("n_bounds", coalesce(col("n_bounds"), lit(0L)))
        val tot = docs.agg(count(lit(1)).as("n_docs"),
          sum(col("n_gaps")).as("n_gaps_total"),
          sum(col("n_bounds")).as("n_bounds_total"))
        docs.groupBy(col("n_bounds"))
          .agg(count(lit(1)).as("n_docs_bin"))
          .crossJoin(broadcast(tot))
          .select(col("n_bounds"), col("n_docs_bin"), col("n_docs"),
            col("n_gaps_total"), col("n_bounds_total"),
            expr("n_bounds_total * 1000000 div n_gaps_total")
              .as("boundary_rate_ppm"))
          .orderBy(col("n_bounds"))
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents),
        bt AS (
          SELECT DISTINCT doc_id, (i - 1) // 8 AS blk, w[i] AS tok
          FROM tk, UNNEST(range(1, len(w) + 1)) u(i)
          WHERE len(w[i]) > 0),
        sizes AS (SELECT doc_id, blk, CAST(COUNT(*) AS BIGINT) AS n
                  FROM bt GROUP BY 1, 2),
        inter AS (
          SELECT a.doc_id, a.blk, CAST(COUNT(*) AS BIGINT) AS inter
          FROM bt a JOIN bt b ON a.doc_id = b.doc_id
            AND a.tok = b.tok AND b.blk = a.blk + 1
          GROUP BY 1, 2),
        gaps AS (
          SELECT s.doc_id, s.blk, COALESCE(i.inter, 0) AS inter,
                 COALESCE(i.inter, 0) * 1000000
                   // (s.n + t.n - COALESCE(i.inter, 0)) AS c_ppm
          FROM sizes s
          JOIN sizes t ON t.doc_id = s.doc_id AND t.blk = s.blk + 1
          LEFT JOIN inter i ON i.doc_id = s.doc_id AND i.blk = s.blk),
        dep AS (
          SELECT doc_id, blk, c_ppm,
                 GREATEST(COALESCE(LAG(c_ppm) OVER w, c_ppm) - c_ppm, 0)
                   + GREATEST(COALESCE(LEAD(c_ppm) OVER w, c_ppm)
                     - c_ppm, 0) AS depth
          FROM gaps
          WINDOW w AS (PARTITION BY doc_id ORDER BY blk)),
        pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                      CAST(SUM(depth) AS BIGINT) AS sd
               FROM dep GROUP BY 1),
        bd AS (SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bounds
               FROM dep d JOIN pd ON pd.doc_id = d.doc_id
               WHERE d.depth * pd.n_gaps > pd.sd AND d.depth > 0
               GROUP BY 1),
        docs AS (SELECT pd.doc_id, pd.n_gaps,
                        COALESCE(bd.n_bounds, 0) AS n_bounds
                 FROM pd LEFT JOIN bd ON bd.doc_id = pd.doc_id),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(n_gaps) AS BIGINT) AS n_gaps_total,
                       CAST(SUM(n_bounds) AS BIGINT) AS n_bounds_total
                FROM docs)
        SELECT n_bounds, CAST(COUNT(*) AS BIGINT) AS n_docs_bin,
               tot.n_docs, tot.n_gaps_total, tot.n_bounds_total,
               tot.n_bounds_total * 1000000 // tot.n_gaps_total
                 AS boundary_rate_ppm
        FROM docs CROSS JOIN tot
        GROUP BY 1, 3, 4, 5, 6
        ORDER BY n_bounds""")),

    // ---- q346: shingle CONTAINMENT (near-superset / quote detection) ----
    // The asymmetric dual of q44's Jaccard: resemblance misses a short
    // document swallowed by a long one (|∩|/|∪| is diluted by the
    // container's size), but containment C(A⊆B) = |S_A∩S_B|/|S_A| does
    // not — the Broder '97 distinction, and the measure quote/boiler
    // mining actually needs. Plant-then-detect: every 25th doc swallows
    // its neighbor (text ⊕ ' ' ⊕ next doc's text — the neighbor's token
    // sequence lands INTACT, so all its 3-gram shingles appear and
    // planted pairs sit at containment = 10⁶ ppm exactly); detection is
    // the q44 shingle equijoin shape (map-side 64-bit hash projection,
    // spread before shingling) with the asymmetric normalization and a
    // ≥0.9 threshold on ≥8-shingle contained sides. jaccard_ppm ships
    // beside containment_ppm as the motivating evidence: the planted
    // pairs' Jaccard is exactly the dilution that hides them from q44.
    //
    // 100 TB posture: same candidate regime as q44 (this corpus sits
    // far below the hot-shingle crossover; past it the stat-routed
    // PrefixFilterJoin / q46 LSH front takes over — routing changes the
    // plan, never the rows); the pair rollup is candidate-bounded.
    "q346_shingle_containment" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        val aug = d.join(
            d.select((col("doc_id") - 1L).as("doc_id"),
              col("text").as("ntext")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("doc_id") % 25 === 0L && col("ntext").isNotNull,
              concat(col("text"), lit(" "), col("ntext")))
              .otherwise(col("text")).as("text"))
        val sh = Tables.spread(aug)
          .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
          .select(col("doc_id"), col("sh"),
            size(col("sh")).cast("long").as("n_sh"))
        val ex = sh.select(col("doc_id"), col("n_sh"),
            explode(col("sh")).as("shingle"))
          .select(col("doc_id"), col("n_sh"),
            xxhash64(col("shingle")).as("shash"))
          .localCheckpoint(false)
        val a = ex.select(col("doc_id").as("doc_small"),
          col("n_sh").as("n_small"), col("shash"))
        val b = ex.select(col("doc_id").as("doc_big"),
          col("n_sh").as("n_big"), col("shash"))
        a.join(b, Seq("shash"))
          .filter(col("doc_small") =!= col("doc_big"))
          .groupBy(col("doc_small"), col("doc_big"),
            col("n_small"), col("n_big"))
          .agg(count(lit(1)).as("n_common"))
          .filter(col("n_small") >= 8L &&
            expr("n_common * 1000000 div n_small") >= 900000L)
          .select(col("doc_small"), col("doc_big"), col("n_small"),
            col("n_big"), col("n_common"),
            expr("n_common * 1000000 div n_small").as("containment_ppm"),
            expr("n_common * 1000000 div (n_small + n_big - n_common)")
              .as("jaccard_ppm"),
            expr("CAST(CASE WHEN doc_big % 25 = 0" +
              " AND doc_small = doc_big + 1 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("planted"))
          .orderBy(col("doc_small"), col("doc_big"))
      },
      oracle = Some(s"""
        WITH aug AS MATERIALIZED (
          SELECT d.doc_id,
                 CASE WHEN d.doc_id % 25 = 0 AND n.text IS NOT NULL
                      THEN concat(d.text, ' ', n.text)
                      ELSE d.text END AS text
          FROM documents d
          LEFT JOIN documents n ON n.doc_id = d.doc_id + 1),
        sh AS MATERIALIZED (
          SELECT doc_id,
                 ${Det.sqlShingles} AS shingles
          FROM aug),
        ex AS MATERIALIZED (
          SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh,
                 UNNEST(shingles) AS shingle
          FROM sh WHERE len(shingles) > 0),
        pairs AS (
          SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
                 a.n_sh AS n_small, b.n_sh AS n_big,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM ex a JOIN ex b ON a.shingle = b.shingle
            AND a.doc_id <> b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT doc_small, doc_big, n_small, n_big, n_common,
               n_common * 1000000 // n_small AS containment_ppm,
               n_common * 1000000 // (n_small + n_big - n_common)
                 AS jaccard_ppm,
               CAST(CASE WHEN doc_big % 25 = 0
                 AND doc_small = doc_big + 1 THEN 1 ELSE 0 END
                 AS BIGINT) AS planted
        FROM pairs
        WHERE n_small >= 8
          AND n_common * 1000000 // n_small >= 900000
        ORDER BY doc_small, doc_big"""))
  )
}
