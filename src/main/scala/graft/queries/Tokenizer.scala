package graft.queries

import graft.core.Tables
import graft.operators.BpeTrainer
import org.apache.spark.sql.functions._

/** Tokenizer training over `documents` — the step a training-data pipeline
  * runs between corpus curation and pre-tokenization.
  *
  * q95 runs the distributed BPE trainer ([[graft.operators.BpeTrainer]])
  * for 8 merge rounds and emits the learned merge table. The DuckDB oracle
  * re-derives the SAME 8 rounds independently in pure SQL: symbol
  * sequences are encoded as `||`-delimited strings (`||a||b||c||`), a
  * greedy left-to-right pair merge is exactly `replace(s, '|l||r|',
  * '|lr|')` on that encoding (each boundary keeps one `|` from either
  * side, so consecutive occurrences still match — including the l == r
  * case), and each round's argmax is recomputed from the merged strings.
  * Both engines therefore execute the full iterative algorithm — round 6+
  * merges multi-character symbols produced by earlier rounds, so the hash
  * compare certifies merge APPLICATION, not just round-1 counting.
  */
object Tokenizer {

  private val Rounds = 8
  // NB: declared before `defs` — a val referenced during `defs` init from
  // later in the object would still be default-initialized (0).
  private val BatchedMerges = 64
  private val BatchedRounds = 8 // static unroll; completion rounds no-op

  /** The unrolled BPE merge rounds of [[BpeTrainer]] over the corpus
    * words: `w` (word counts; `filter` goes before its GROUP BY), `v0`
    * (each word as `||`-delimited characters), then for each round
    * k ≤ n the pair counts `p$k`, the argmax merge `b$k` and the merged
    * strings `v$k` (left out for round n unless `applyLast`). `carry`
    * = "word, " keeps the word column through the `v` CTEs. */
  private def bpeRounds(n: Int, filter: String, carry: String,
      applyLast: Boolean): String = {
    val rounds = (1 to n).map { k =>
      val prev = k - 1
      val vNext =
        if (k == n && !applyLast) ""
        else s""",
        v$k AS (SELECT ${carry}replace(s, '|' || b$k.l || '||' || b$k.r || '|',
                               '|' || b$k.l || b$k.r || '|') AS s, freq
                FROM v$prev, b$k)"""
      s""",
        p$k AS (SELECT syms[i] AS l, syms[i+1] AS r, SUM(freq) AS cnt
                FROM (SELECT list_filter(string_split(s, '||'),
                                         x -> x <> '') AS syms, freq
                      FROM v$prev),
                     LATERAL (SELECT unnest(generate_series(1, len(syms)-1))
                              AS i) t
                GROUP BY 1, 2),
        b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1)$vNext"""
    }.mkString
    s"""
        WITH w AS (SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS freq
                   FROM (SELECT unnest(string_split(trim(text), ' ')) AS term
                         FROM documents)
                   ${filter}GROUP BY term),
        v0 AS (SELECT $carry'||' || array_to_string(string_split(word, ''), '||')
                      || '||' AS s, freq FROM w)$rounds"""
  }

  /** Unrolled n-round BPE oracle (see object doc for the encoding). */
  private def bpeOracle(n: Int): String = {
    // the last round's merged strings are never re-counted
    val rounds = bpeRounds(n, "WHERE length(term) >= 2 ", "", applyLast = false)
    val sel = (1 to n).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS rank, l AS left_sym, r AS right_sym,
                 l || r AS merged, CAST(cnt AS BIGINT) AS cnt FROM b$k"""
    }.mkString(" UNION ALL ")
    s"$rounds\nSELECT * FROM ($sel) ORDER BY rank"
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q95: distributed BPE tokenizer training (8 merges) ----
    // 100 TB posture: one corpus-sized word-count shuffle, then every
    // round is vocabulary-sized with a single scalar argmax to the
    // driver — see BpeTrainer's scaladoc.
    "q95_bpe_merges" -> QueryDef(
      build = (spark, dir) =>
        BpeTrainer.train(Tables.documents(spark, dir), "text", Rounds),
      oracle = Some(bpeOracle(Rounds))),

    // ---- q99: BPE corpus encoding — post-merge token histogram ----
    // Train 8 merges, ENCODE the whole corpus with them (one pass, all
    // merges amortized per word), and report the top-20 resulting tokens
    // by corpus occurrence count. The oracle re-trains AND re-encodes in
    // SQL: the same unrolled rounds as q95, but the final merged symbol
    // strings are unnested into a frequency-weighted histogram — so the
    // hash compare certifies BpeTrainer.encode end-to-end, not just the
    // learned merge table. (The min-word-length filter is omitted here:
    // 1-char words carry no pairs, so training is unaffected and encoding
    // must keep them — both engines agree by construction.)
    "q99_bpe_encode_stats" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val merges = BpeTrainer.train(docs, "text", Rounds)
        BpeTrainer.encode(docs, "text", merges)
          .select(explode(col("tokens")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(20)
      },
      oracle = Some(bpeEncodeOracle(Rounds))),

    // ---- q100: pretokenize-and-pack capstone ----
    // The full pretokenization pipeline a training run feeds from: train
    // 8 BPE merges, encode the corpus, count POST-BPE tokens per doc,
    // and pack docs into fixed-2048-token training rows with q87's
    // hash-sharded window-cumsum packing (no global sort). The oracle
    // re-runs every stage in SQL — merge training, encoding (per-word
    // final symbol counts joined back to doc token occurrences), and the
    // packing windows — so the hash compare certifies the composition,
    // not just the parts.
    //
    // 100 TB posture: q95's training posture + one corpus encode pass +
    // q87's shard-parallel packing (the only corpus-sized shuffles are
    // the word-count agg, the per-doc token rollup, and the shard
    // window).
    "q100_pretokenize_pack" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val merges = BpeTrainer.train(docs, "text", Rounds)
        val d = BpeTrainer.encode(docs, "text", merges)
          .select(col("doc_id"),
            size(col("tokens")).cast("long").as("n_tokens"),
            md5(concat(col("doc_id").cast("string"), col("text"))
              .cast("binary")).as("pick"))
          .withColumn("shard",
            (ascii(substring(col("pick"), 1, 1)) % 4).cast("long"))
        Training.packStats(d)
      },
      oracle = Some(packOracle(Rounds))),

    // ---- q205: tokenizer fertility per source ----
    // The metric that decides whether a tokenizer fits a corpus slice:
    // post-BPE tokens per 1000 words and chars per 1000 tokens, per
    // source (integer-exact — cross-multiplied before ONE integer
    // division). High fertility on a source means its text fragments
    // into many tokens per word — the training-cost signal mixture
    // design reads before weighting sources. The oracle re-trains the
    // same 8 merge rounds in SQL (the q100 word-carrying form), then
    // rolls the per-word token counts up through each source's word
    // occurrences.
    //
    // 100 TB posture: q95's training posture + ONE corpus encode pass;
    // the rollup is a |sources|-cardinality keyed agg (per-doc token
    // counts come from the same word join the q100 capstone uses).
    "q205_bpe_fertility" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val merges = BpeTrainer.train(docs, "text", Rounds)
        val words = split(trim(col("text")), " ")
        BpeTrainer.encode(docs, "text", merges)
          .select(col("source"),
            size(col("tokens")).cast("long").as("n_tokens"),
            size(words).cast("long").as("n_words"),
            aggregate(transform(words, w => length(w).cast("long")),
              lit(0L), (a, x) => a + x).as("n_chars"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"))
          .withColumn("tokens_per_kword",
            expr("(n_tokens * 1000) div n_words"))
          .withColumn("chars_per_ktoken",
            expr("(n_chars * 1000) div n_tokens"))
          .orderBy(col("source"))
      },
      oracle = Some(fertilityOracle(Rounds))),

    // ---- q232: BATCHED BPE training — the production scale path ----
    // q95 certifies sequential greedy (batchSize = 1, one vocab-sized job
    // per merge); a production vocab is 32k-100k merges, where only the
    // batched path (up to `batchSize` symbol-disjoint merges per job —
    // BpeTrainer's object doc) is viable. This gate trains 64 merges with
    // batchSize = 64 and hash-compares the FULL merge table against a
    // DuckDB replay of the batched semantics: per round the oracle
    // recomputes pair counts over the current vocab, runs the greedy
    // symbol-disjoint acceptance scan as a recursive CTE over the ranked
    // candidate list (capped at 64 - merges-so-far), applies the accepted
    // merges in acceptance order via a second recursive CTE, and chains
    // 8 statically-unrolled rounds (rounds past completion accept nothing
    // and pass the vocab through unchanged — both SFs complete in 6).
    // Acceptance counts per round are DATA-DRIVEN on both sides, so the
    // compare certifies selection, the want-cap, disjointness, and
    // ordered application — the exact deviation-from-sequential the
    // batched algorithm is allowed (deferred consideration only).
    //
    // 100 TB posture: this IS the posture — rounds collapse from nMerges
    // to ceil(nMerges / accepted-per-round); BASELINE.md "BPE training vs
    // MERGE COUNT" measures 0.11 s/merge sequential (linear) vs 212
    // merges/s batched (sub-linear). With this gate the scale path
    // carries the same oracle certificate as the sequential one.
    "q232_bpe_batched" -> QueryDef(
      build = (spark, dir) =>
        BpeTrainer.train(Tables.documents(spark, dir), "text",
          BatchedMerges, batchSize = BatchedMerges),
      oracle = Some(batchedOracle(BatchedRounds, BatchedMerges))),

    // ---- q303: unigram-LM tokenization (Viterbi optimal segmentation) --
    // The OTHER production tokenizer family: SentencePiece's unigram LM
    // segments each word by a Viterbi DP over unit log-probabilities —
    // algorithmically disjoint from BPE (q95/q99/q232 apply a learned
    // merge sequence greedily; this finds the GLOBALLY OPTIMAL
    // segmentation under a unit-cost model, the inference step of
    // Kudo '18). Vocabulary is derived in-engine: all single chars
    // (coverage guarantee) + the top-40 substrings of length 2–4 by
    // corpus-weighted frequency; unit cost = −ln(freq/total) in
    // micro-nats (ln rounded once to 9 dp — the q216/q264 portability
    // discipline — then scaled; all downstream arithmetic exact
    // integers). The DP state packs (cost, n_tokens) into one integer
    // key ckey = cost_micro·64 + n_tokens, so MIN(ckey) is the
    // lexicographic (cost, token-count) optimum — ties broken toward
    // fewer tokens, deterministically, with no float ever compared.
    // The 8 position rounds are unrolled relationally (branch L
    // consumes a length-L unit ending at position i, i.e. joins
    // dp(i−L) × vocab on substring(w, i−L+1, L)); the oracle replays
    // the identical rounds as generated CTEs (the q232/q294 recipe) —
    // any wrong cost, tie-break, or off-by-one cascades to a hash
    // mismatch.
    //
    // 100 TB posture: the DP runs over the DISTINCT-WORD table (Zipf:
    // orders of magnitude smaller than the corpus; the word-keyed
    // joins are hash-partitioned and each round is cut by a
    // localCheckpoint so the plan stays shallow); the vocabulary is
    // the only broadcast (model-sized); corpus-scale work is ONE
    // word-count aggregation. Words longer than the 8-char DP cap are
    // excluded up front in BOTH engines (cap = max word length in this
    // corpus; at scale the cap bounds per-word DP cost).
    "q303_unigram_viterbi" -> QueryDef(
      build = (spark, dir) => {
        val wl = Tables.documents(spark, dir)
          .select(explode(split(trim(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0 && length(col("w")) <= 8)
          .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
          .withColumn("len", length(col("w")).cast("long"))
          .localCheckpoint()
        val uf = wl.select(col("n_w"), explode(expr(
            "flatten(transform(sequence(1, CAST(least(4, len) AS INT)), " +
              "L -> transform(sequence(1, CAST(len AS INT) - L + 1), " +
              "i -> substring(w, i, L))))")).as("u"))
          .groupBy(col("u")).agg(sum(col("n_w")).as("freq"))
        val multi = uf.filter(length(col("u")) > 1)
          .orderBy(col("freq").desc, col("u")).limit(40)
        val v0 = uf.filter(length(col("u")) === 1).unionByName(multi)
        val vocab = v0
          .crossJoin(broadcast(v0.agg(sum(col("freq")).as("t"))))
          .select(col("u"), expr(
            "CAST(ROUND(ROUND(LN(CAST(freq AS DOUBLE) / t), 9)" +
              " * -1000000, 0) AS BIGINT)").as("cost"))
          .localCheckpoint()
        // dp(i) = minimal ckey segmenting the first i chars of w
        var dps = Vector(wl.select(col("w"), lit(0L).as("ckey")))
        for (i <- 1 to 8) {
          val branches = (1 to math.min(4, i)).map { l =>
            dps(i - l)
              .join(wl.filter(col("len") >= i).select(col("w")), "w")
              .withColumn("u", expr(s"substring(w, ${i - l + 1}, $l)"))
              .join(broadcast(vocab), "u")
              .select(col("w"),
                (col("ckey") + col("cost") * 64 + 1).as("ck"))
          }
          dps = dps :+ branches.reduce(_ unionByName _)
            .groupBy(col("w")).agg(min(col("ck")).as("ckey"))
            .localCheckpoint()
        }
        val seg = (1 to 8).map { i =>
          dps(i).join(wl.filter(col("len") === i), "w")
        }.reduce(_ unionByName _)
          .withColumn("cost_micro", expr("ckey div 64"))
          .withColumn("n_tokens", col("ckey") % 64)
        val su = seg.agg(count(lit(1)).as("n_distinct_words"),
          sum(col("n_w") * col("len")).as("total_chars"),
          sum(col("n_w") * col("n_tokens")).as("total_tokens"))
        val vs = vocab.agg(count(lit(1)).as("vocab_size"))
        seg.orderBy(col("n_w").desc, col("w")).limit(20)
          .crossJoin(broadcast(su)).crossJoin(broadcast(vs))
          .select(col("w"), col("n_w"), col("len").as("word_len"),
            col("n_tokens"), col("cost_micro"), col("n_distinct_words"),
            col("vocab_size"), col("total_chars"), col("total_tokens"),
            expr("total_chars * 1000000 div total_tokens")
              .as("chars_per_token_ppm"))
          .orderBy(col("n_w").desc, col("w"))
      },
      oracle = Some(viterbiOracle(8)))
  )

  /** q232's oracle: statically-unrolled batched BPE rounds. Per round k:
    * `p_k` recomputes adjacent-pair counts over vocab `v_{k-1}` (the q95
    * `||`-delimited symbol-string encoding), `rk_k` ranks them
    * (cnt DESC, l, r), `acc_k` is a RECURSIVE greedy scan down the ranked
    * list accumulating symbol-disjoint acceptances (used-set and accepted
    * list carried as DuckDB list state; capped at `nMerges` minus merges
    * accepted in earlier rounds), `app_k` applies the accepted merges in
    * acceptance order (recursive over the per-word symbol string), and
    * `v_k` selects the fully-merged rows. A round whose cap has reached
    * zero accepts nothing and passes the vocab through unchanged, so the
    * static unroll is safe for any acceptance distribution. CTEs are
    * MATERIALIZED — without it DuckDB inlines the v-chain exponentially. */
  private def batchedOracle(rounds: Int, nMerges: Int): String = {
    val head = s"""
        WITH RECURSIVE w AS MATERIALIZED (
          SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split(trim(text), ' ')) AS term
                FROM documents)
          WHERE length(term) >= 2 GROUP BY term),
        v0 AS MATERIALIZED (
          SELECT word, '||' || array_to_string(string_split(word, ''),
                 '||') || '||' AS s, freq FROM w),
        m0 AS (SELECT NULL AS l, NULL AS r, CAST(NULL AS BIGINT) AS cnt,
                      CAST(NULL AS BIGINT) AS seq, CAST(0 AS BIGINT) AS round
               WHERE FALSE)"""
    val body = (1 to rounds).map { k =>
      val p = k - 1
      val priorM = (0 until k).map(j => s"SELECT * FROM m$j")
        .mkString(" UNION ALL ")
      s""",
        ma$p AS ($priorM),
        wnt$k AS (SELECT $nMerges - COUNT(*) AS want FROM ma$p),
        p$k AS MATERIALIZED (
          SELECT syms[i] AS l, syms[i+1] AS r,
                 CAST(SUM(freq) AS BIGINT) AS cnt
          FROM (SELECT list_filter(string_split(s, '||'), x -> x <> '')
                       AS syms, freq FROM v$p),
               LATERAL (SELECT unnest(generate_series(1, len(syms)-1))
                        AS i) t
          GROUP BY 1, 2),
        rk$k AS (SELECT l, r, cnt,
                        row_number() OVER (ORDER BY cnt DESC, l, r) AS rn
                 FROM p$k),
        acc$k AS (
          SELECT CAST(0 AS BIGINT) AS rn, CAST([] AS VARCHAR[]) AS used,
                 CAST([] AS STRUCT(l VARCHAR, r VARCHAR, cnt BIGINT)[]) AS acc
          UNION ALL
          SELECT c.rn,
                 CASE WHEN ok THEN a.used || [c.l, c.r, c.l || c.r]
                      ELSE a.used END,
                 CASE WHEN ok THEN list_append(a.acc,
                      {'l': c.l, 'r': c.r, 'cnt': c.cnt}) ELSE a.acc END
          FROM (SELECT a.*, c.*,
                       (len(a.acc) < (SELECT want FROM wnt$k)
                        AND NOT list_contains(a.used, c.l)
                        AND NOT list_contains(a.used, c.r)
                        AND NOT list_contains(a.used, c.l || c.r)) AS ok
                FROM acc$k a JOIN rk$k c ON c.rn = a.rn + 1)
               AS _(rn0, used, acc, l, r, cnt, rn, ok),
               LATERAL (SELECT _.rn0, _.used AS used, _.acc AS acc)
                 a(rn0, used, acc),
               LATERAL (SELECT _.l, _.r, _.cnt, _.rn) c(l, r, cnt, rn)
        ),
        m$k AS MATERIALIZED (
          SELECT u.m.l AS l, u.m.r AS r, u.m.cnt AS cnt,
                 CAST(u.seq AS BIGINT) AS seq, CAST($k AS BIGINT) AS round
          FROM (SELECT acc FROM acc$k ORDER BY rn DESC LIMIT 1) f,
               LATERAL (SELECT unnest(f.acc) AS m,
                               generate_subscripts(f.acc, 1) AS seq) u),
        app$k AS (
          SELECT word, s, freq, CAST(0 AS BIGINT) AS i FROM v$p
          UNION ALL
          SELECT a.word, replace(a.s, '|' || m.l || '||' || m.r || '|',
                                 '|' || m.l || m.r || '|'), a.freq, a.i + 1
          FROM app$k a JOIN m$k m ON m.seq = a.i + 1
        ),
        v$k AS MATERIALIZED (
          SELECT word, s, freq FROM app$k
          WHERE i = (SELECT COALESCE(MAX(seq), 0) FROM m$k))"""
    }.mkString
    val union = (1 to rounds).map(j => s"SELECT * FROM m$j")
      .mkString(" UNION ALL ")
    s"""$head$body
        SELECT row_number() OVER (ORDER BY round, seq) AS rank,
               l AS left_sym, r AS right_sym, l || r AS merged, cnt
        FROM ($union) ORDER BY rank"""
  }

  /** q205's oracle: the q100 word-carrying merge rounds → per-word
    * post-BPE token counts → per-source rollup over word occurrences. */
  private def fertilityOracle(n: Int): String = {
    val rounds = bpeRounds(n, "", "word, ", applyLast = true)
    s"""$rounds,
        wl AS (SELECT word, CAST(len(list_filter(string_split(s, '||'),
                      x -> x <> '')) AS BIGINT) AS n_word_toks,
                      CAST(length(word) AS BIGINT) AS n_word_chars
               FROM v$n),
        tok AS (SELECT doc_id, source,
                       unnest(string_split(trim(text), ' ')) AS term
                FROM documents),
        dtok AS (SELECT t.doc_id, t.source,
                        CAST(COUNT(*) AS BIGINT) AS n_words,
                        CAST(SUM(wl.n_word_toks) AS BIGINT) AS n_tokens,
                        CAST(SUM(wl.n_word_chars) AS BIGINT) AS n_chars
                 FROM tok t JOIN wl ON wl.word = t.term
                 GROUP BY t.doc_id, t.source)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_words,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               (CAST(SUM(n_tokens) AS BIGINT) * 1000)
                 // CAST(SUM(n_words) AS BIGINT) AS tokens_per_kword,
               (CAST(SUM(n_chars) AS BIGINT) * 1000)
                 // CAST(SUM(n_tokens) AS BIGINT) AS chars_per_ktoken
        FROM dtok GROUP BY source ORDER BY source"""
  }

  /** q100's oracle: the all-words merge rounds CARRYING the word column,
    * then per-word post-BPE symbol counts → per-doc token rollup →
    * q87's packing windows. */
  private def packOracle(n: Int): String = {
    val rounds = bpeRounds(n, "", "word, ", applyLast = true)
    s"""$rounds,
        wl AS (SELECT word, CAST(len(list_filter(string_split(s, '||'),
                      x -> x <> '')) AS BIGINT) AS n_word_toks FROM v$n),
        tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
                FROM documents),
        dtok AS (SELECT t.doc_id, CAST(SUM(wl.n_word_toks) AS BIGINT)
                          AS n_tokens
                 FROM tok t JOIN wl ON wl.word = t.term GROUP BY t.doc_id),
        d AS (SELECT dt.doc_id, dt.n_tokens,
                     md5(CONCAT(CAST(doc.doc_id AS VARCHAR), doc.text))
                       AS pick
              FROM dtok dt JOIN documents doc ON doc.doc_id = dt.doc_id),
        sh AS (SELECT *, CAST(ascii(substring(pick, 1, 1)) % 4 AS BIGINT)
                           AS shard FROM d),
        ${Training.sqlPack("sh")}"""
  }

  /** q99's oracle: q95's unrolled rounds, then a token histogram over the
    * round-`n` symbol strings of ALL words (weighted by word frequency). */
  private def bpeEncodeOracle(n: Int): String = {
    val rounds = bpeRounds(n, "", "", applyLast = true)
    s"""$rounds
        SELECT token, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_filter(string_split(s, '||'),
                                        x -> x <> '')) AS token, freq
              FROM v$n)
        GROUP BY token ORDER BY cnt DESC, token LIMIT 20"""
  }

  /** q303's oracle: the identical vocab derivation + `cap` unrolled
    * Viterbi DP rounds as generated CTEs (the [[batchedOracle]] recipe —
    * the oracle replays every position round, so a wrong cost, tie-break,
    * or substring off-by-one in the Spark plan cascades to a hash
    * mismatch, four CTE layers deep). */
  /** Every wl/uf/vocab/dp CTE is MATERIALIZED (round 15, VERDICT r14
    * #8): the dp chain references dp(i-1..i-4), and DuckDB inlines
    * non-materialized CTE references — dp8 re-evaluated the whole chain
    * ~4^8 times, making this single oracle 287 s of the sweep's 416 s
    * compare phase. Materialization is evaluation strategy only; every
    * value is unchanged. Measured 287 s → ~1 s. */
  private def viterbiOracle(cap: Int): String = {
    val head = s"""
        WITH wl AS MATERIALIZED (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w,
                 CAST(len(w) AS BIGINT) AS len
          FROM (SELECT UNNEST(string_split(trim(text), ' ')) AS w
                FROM documents)
          WHERE len(w) > 0 AND len(w) <= $cap GROUP BY 1),
        uf AS MATERIALIZED (
          SELECT substr(w.w, CAST(t2.range AS INT),
                        CAST(t1.range AS INT)) AS u,
                 CAST(SUM(w.n_w) AS BIGINT) AS freq
          FROM wl w, range(1, 5) t1, range(1, ${cap + 1}) t2
          WHERE t1.range <= w.len
            AND t2.range + t1.range - 1 <= w.len
          GROUP BY 1),
        v0 AS (
          SELECT u, freq FROM uf WHERE len(u) = 1
          UNION ALL
          SELECT u, freq FROM (SELECT u, freq FROM uf WHERE len(u) > 1
                               ORDER BY freq DESC, u LIMIT 40)),
        tt AS (SELECT CAST(SUM(freq) AS BIGINT) AS t FROM v0),
        vocab AS MATERIALIZED (
          SELECT u, CAST(ROUND(ROUND(LN(CAST(freq AS DOUBLE) / t), 9)
                 * -1000000, 0) AS BIGINT) AS cost
          FROM v0 CROSS JOIN tt),
        dp0 AS (SELECT w, CAST(0 AS BIGINT) AS ckey FROM wl)"""
    val rounds = (1 to cap).map { i =>
      val branches = (1 to math.min(4, i)).map { l =>
        s"""
            SELECT d.w AS w, d.ckey + v.cost * 64 + 1 AS ck
            FROM dp${i - l} d
            JOIN wl ON wl.w = d.w AND wl.len >= $i
            JOIN vocab v ON v.u = substr(d.w, ${i - l + 1}, $l)"""
      }.mkString("\n            UNION ALL")
      s""",
        dp$i AS MATERIALIZED (SELECT w, MIN(ck) AS ckey FROM ($branches
        ) GROUP BY 1)"""
    }.mkString
    val segUnion = (1 to cap).map { i =>
      s"""
            SELECT d.w AS w, wl.n_w, wl.len, d.ckey
            FROM dp$i d JOIN wl ON wl.w = d.w AND wl.len = $i"""
    }.mkString("\n            UNION ALL")
    s"""$head$rounds,
        seg AS (SELECT w, n_w, len, ckey // 64 AS cost_micro,
                       ckey % 64 AS n_tokens FROM ($segUnion
        )),
        su AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
                      CAST(SUM(n_w * len) AS BIGINT) AS total_chars,
                      CAST(SUM(n_w * n_tokens) AS BIGINT) AS total_tokens
               FROM seg),
        vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM vocab)
        SELECT s.w, s.n_w, s.len AS word_len, s.n_tokens, s.cost_micro,
               su.n_distinct_words, vs.vocab_size, su.total_chars,
               su.total_tokens,
               su.total_chars * 1000000 // su.total_tokens
                 AS chars_per_token_ppm
        FROM (SELECT * FROM seg ORDER BY n_w DESC, w LIMIT 20) s
        CROSS JOIN su CROSS JOIN vs
        ORDER BY s.n_w DESC, s.w"""
  }
}
