package graft.queries

import graft.core.Tables
import graft.operators.{GlobalRank, HashedLogReg}
import org.apache.spark.sql.functions._

/** Trained-classifier curation — the FineWeb-Edu / DCLM family: a cheap
  * rule labels the corpus, a linear model over hashed token features is
  * FIT by distributed gradient descent to imitate it, and the corpus is
  * scored so retention can be chosen per score decile. See
  * [[graft.operators.HashedLogReg]] for the model, the fixed-point
  * determinism recipe, and the 100 TB posture.
  */
object Classifier {

  private val Rounds = 8
  private val InvLr = 16L
  private val ThreshPerMille = 66L
  private val StopTerms = Seq("the", "a")
  // q243 region cuts, calibrated on the measured per-doc distribution
  // (mean_conf p5..p95 ≈ 449k..634k ppm; varq p95 ≈ 2.4e11): ambiguous
  // = varq ≥ 2.5e11 (per-round confidence std ≥ ~0.0625), easy ≥ 0.60
  // mean true-label confidence, hard ≤ 0.46.
  private val VarThreshold = 250000000000L
  private val EasyCut = 600000L
  private val HardCut = 460000L
  // q254's temperature grid (integer divisors of the margin) — declared
  // BEFORE defs: the oracle generator reads it at object init.
  private val TempGrid = Seq(1L, 2L, 4L, 8L, 16L, 32L)
  // q276's conformal α grid in ppm — same before-defs rule.
  private val AlphaGrid = Seq(50000L, 100000L, 200000L)

  // The one previously-persisted feature table (the NgramJaccard
  // pattern): repeated invocations in one session hold at most ONE
  // cached copy.
  private var lastX: Option[org.apache.spark.sql.DataFrame] = None

  /** The labelled, biased hashed-token feature table of `docs`, persisted
    * in place of the previous one. */
  private def features(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = synchronized {
    lastX.foreach(_.unpersist(blocking = false))
    val built = HashedLogReg.withLabelAndBias(
      HashedLogReg.tokenFeatures(docs, "text", StopTerms), ThreshPerMille)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lastX = Some(built)
    built
  }

  /** The confusion counts of a q251 fold's scores `z` against labels `y`
    * (positive at z ≥ 0). */
  private val ConfusionCounts: String = """COUNT(*) AS n_test,
                      CAST(SUM(CASE WHEN y = 1 AND z >= 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp,
                      CAST(SUM(CASE WHEN y = 0 AND z >= 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS fp,
                      CAST(SUM(CASE WHEN y = 1 AND z < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS fn,
                      CAST(SUM(CASE WHEN y = 0 AND z < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS tn"""

  /** The calibration tail of the q233 and q246 oracles: `r` ranks the
    * final scores `zf`, then per decile the doc count, positives and sign
    * agreement. */
  private val DecileTail: String = """r AS (SELECT *, row_number() OVER (ORDER BY z DESC, doc_id) AS rn
              FROM zf)
        SELECT ((rn - 1) * 10) // nn.n + 1 AS decile,
               COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN (y = 1) = (z >= 0) THEN 1 ELSE 0 END)
                 AS BIGINT) AS agree
        FROM r CROSS JOIN nn GROUP BY 1 ORDER BY decile"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q233: trained quality classifier (hashed-feature LR) ----
    // Train 8 fixed-point gradient rounds to imitate the stop-ratio
    // rule (stop-tokens/1000 ≥ 66 — linear in bucket counts, so
    // honestly learnable up to hash-collision noise), score every doc,
    // and report the per-decile retention the curation decision reads:
    // docs, rule-positives, and model/rule agreement per score decile.
    // Measured at both SFs: retention is strongly monotone (top deciles
    // ~100% positive, bottom ~0%) with ~90% agreement — the model
    // really learns the rule, it is not returning the rule.
    //
    // The DuckDB oracle replays the ENTIRE training run: 8 unrolled
    // rounds, each recomputing per-doc margins, hard-sigmoid errors,
    // per-bucket gradients, and the integer weight update from the
    // previous round's weight table — then scores and rolls up deciles.
    // Every quantity is scaled-integer with mirrored `div`//`//`
    // truncation, so the hash compare certifies the full iterative fit,
    // not just the final rollup.
    //
    // 100 TB posture: one tokenize shuffle, per-round work on the
    // bucketized |docs|·≤257 table, model = 257 longs on the driver;
    // the final ranking is the stat-routed GlobalRank (naive below the
    // measured ~2M-row crossover — these SFs — two-pass above).
    "q233_quality_classifier" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val n = docs.count()
        val w = HashedLogReg.train(x, n, Rounds, InvLr)
        val scored = HashedLogReg.score(x, w)
        val minZ = scored.agg(min(col("z"))).head.getLong(0)
        val ranked = GlobalRank.withRankAndPrefixAuto(
          scored.withColumn("zp", col("z") - lit(minZ)),
          "zp", "doc_id", rowCount = Some(n))._2
        ranked
          .withColumn("decile", expr(s"((rn - 1) * 10) div ${n}L + 1"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("y")).as("n_pos"),
            sum(when((col("y") === 1L) === (col("z") >= 0L), 1L)
              .otherwise(0L)).as("agree"))
          .orderBy(col("decile"))
      },
      oracle = Some(lrOracle(Rounds))),

    // ---- q243: dataset cartography from training dynamics ----
    // The data-map move (Swayamdipta et al.): instead of judging
    // examples by the FINAL model, watch each example ACROSS training
    // rounds — mean true-label confidence and its variability split the
    // corpus into easy-to-learn / hard-to-learn / ambiguous regions
    // (ambiguous examples are where label noise and genuinely
    // borderline data live; curation pipelines route them to review).
    // Confidence per round comes from the round's weight SNAPSHOT
    // (trainHistory — the same 8 rounds q233 certifies); statistics are
    // exact integers: mean = Σconf div 8, varq = 8·Σconf² − (Σconf)²
    // (population variance × 64, never a float). The oracle appends a
    // per-round confidence tail to the SAME unrolled training chain as
    // q233, so the two gates share one replay of the fit.
    //
    // 100 TB posture: training as q233; the cartography pass is ONE
    // more keyed agg over the bucketized table computing all 8 margins
    // in one job (8 literal weight arrays in the projection), then a
    // 4-row region rollup.
    "q243_training_cartography" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val n = docs.count()
        val hist = HashedLogReg.trainHistory(x, n, Rounds, InvLr)
        val zCols = hist.zipWithIndex.map { case (w, i) =>
          sum(col("x") * element_at(
            array(w.toSeq.map(lit): _*), col("j") + 1)).as(s"z${i + 1}")
        }
        val z = x.groupBy(col("doc_id"))
          .agg(max(col("y")).as("y"), zCols: _*)
        val confExprs = (1 to Rounds).map { r =>
          s"(CASE WHEN y = 1 THEN greatest(0L, least(1000000L, " +
            s"500000L + z$r div 4)) ELSE 1000000L - greatest(0L, " +
            s"least(1000000L, 500000L + z$r div 4)) END)"
        }
        val sc = confExprs.mkString("(", " + ", ")")
        val sq = confExprs.map(e => s"$e * $e").mkString("(", " + ", ")")
        z.select(col("doc_id"), col("y"),
            expr(s"$sc div $Rounds").as("mean_conf"),
            expr(s"$Rounds * $sq - $sc * $sc").as("varq"))
          .select(col("y"), col("mean_conf"), col("varq"),
            when(col("varq") >= VarThreshold, "ambiguous")
              .when(col("mean_conf") >= EasyCut, "easy")
              .when(col("mean_conf") <= HardCut, "hard")
              .otherwise("mid").as("region"))
          .groupBy(col("region"))
          .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
            expr("sum(mean_conf) div count(1)").as("avg_conf_ppm"),
            max(col("varq")).as("max_varq"))
          .orderBy(col("region"))
      },
      oracle = Some(cartographyOracle(Rounds))),

    // ---- q246: incremental classifier refresh (warm start) ----
    // The production model-update contract, completing the incremental
    // family (exact dedup q84, LSH signatures q191): yesterday's model
    // — 8 rounds fit on the doc_id-even HALF — warm-starts 2
    // fine-tuning rounds on the FULL grown corpus, instead of paying a
    // from-scratch retrain. The gate scores the whole corpus with the
    // refreshed model and emits the q233-shaped decile retention table;
    // the oracle replays BOTH phases unrolled (8 rounds on the filtered
    // feature table with its own n, then 2 rounds on the full table
    // seeded from phase A's final weights), so the hash compare
    // certifies the warm-start arithmetic itself — a wrong seed, a
    // wrong n, or a re-zeroed weight all mismatch.
    //
    // 100 TB posture: q233's posture twice over — and that is the
    // point: the refresh pays 2 vocab-bounded rounds on the grown
    // corpus, not 8, because the warm start carries the fit forward.
    "q246_incremental_classifier" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val n = docs.count()
        val nEven = docs.filter(col("doc_id") % 2 === 0).count()
        val xEven = x.filter(col("doc_id") % 2 === 0)
        val wA = HashedLogReg.trainHistory(xEven, nEven, Rounds, InvLr).last
        val wB = HashedLogReg.trainHistory(x, n, 2, InvLr,
          init = Some(wA)).last
        val scored = HashedLogReg.score(x, wB)
        val minZ = scored.agg(min(col("z"))).head.getLong(0)
        val ranked = GlobalRank.withRankAndPrefixAuto(
          scored.withColumn("zp", col("z") - lit(minZ)),
          "zp", "doc_id", rowCount = Some(n))._2
        ranked
          .withColumn("decile", expr(s"((rn - 1) * 10) div ${n}L + 1"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("y")).as("n_pos"),
            sum(when((col("y") === 1L) === (col("z") >= 0L), 1L)
              .otherwise(0L)).as("agree"))
          .orderBy(col("decile"))
      },
      oracle = Some(incrementalOracle(Rounds, 2))),

    // ---- q251: 2-fold cross-validation of the trained classifier ----
    // The held-out evaluation q233's in-sample deciles cannot give:
    // fold f = doc_id % 2, each fold scored by a model trained ONLY on
    // the other fold (8 rounds each, the same fixed-point fit), and the
    // per-fold confusion matrix + accuracy reported. Generalization,
    // not memorization: the rule is linear in bucket counts, so
    // held-out accuracy stays high — and the gate certifies BOTH
    // independent training runs plus both scoring passes in one hash
    // (the oracle replays the two fits from the shared [[roundCtes]]
    // generator — one SQL replay of the fit, now four gates deep).
    //
    // 100 TB posture: q233's posture twice (each fit's per-round work
    // is one keyed agg over the half-corpus bucket table); scoring is
    // one broadcast-weight pass per fold; the report is 2 rows.
    "q251_cross_validation" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val nEven = docs.filter(col("doc_id") % 2 === 0).count()
        val nOdd = docs.filter(col("doc_id") % 2 === 1).count()
        val xEven = x.filter(col("doc_id") % 2 === 0)
        val xOdd = x.filter(col("doc_id") % 2 === 1)
        val wA = HashedLogReg.trainHistory(xOdd, nOdd, Rounds, InvLr).last
        val wB = HashedLogReg.trainHistory(xEven, nEven, Rounds, InvLr).last
        def foldRow(xTest: org.apache.spark.sql.DataFrame, w: Array[Long],
            fold: Long, nTrain: Long) =
          HashedLogReg.score(xTest, w)
            .agg(count(lit(1)).as("n_test"),
              sum(when(col("y") === 1L && col("z") >= 0L, 1L)
                .otherwise(0L)).as("tp"),
              sum(when(col("y") === 0L && col("z") >= 0L, 1L)
                .otherwise(0L)).as("fp"),
              sum(when(col("y") === 1L && col("z") < 0L, 1L)
                .otherwise(0L)).as("fn"),
              sum(when(col("y") === 0L && col("z") < 0L, 1L)
                .otherwise(0L)).as("tn"))
            .select(lit(fold).as("fold"), lit(nTrain).as("n_train"),
              col("n_test"), col("tp"), col("fp"), col("fn"), col("tn"),
              expr("((tp + tn) * 1000000) div n_test").as("acc_ppm"))
        foldRow(xEven, wA, 0L, nOdd)
          .unionAll(foldRow(xOdd, wB, 1L, nEven))
          .orderBy(col("fold"))
      },
      oracle = Some(crossValOracle(Rounds))),

    // ---- q254: temperature scaling of the classifier scores ----
    // Parametric calibration completing the calibration pair (q236 is
    // the non-parametric isotonic fit): the trained model's margins are
    // rescaled by a temperature T — conf_T = clamp(5e5 + z div (4·T)) —
    // and T is selected from a fixed integer grid by exact integer
    // Brier score (Σ(conf − y·1e6)², the proper score that needs no
    // logs — ln would re-introduce float accumulation). The report is
    // the whole grid with per-T mean Brier and mean confidence, the
    // chosen row flagged (min Brier, smallest-T tie-break) — a
    // calibration decision made of nothing but certified integers.
    // Brier sums are accumulated as DECIMAL(28,0) (n·1e12 outgrows a
    // long past ~9M docs).
    //
    // 100 TB posture: one broadcast-weight scoring pass computes ALL
    // grid confidences in-row (6 expressions over one z); the rollup
    // is |grid| rows.
    "q254_temperature_scaling" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val n = docs.count()
        val w = HashedLogReg.train(x, n, Rounds, InvLr)
        val scored = HashedLogReg.score(x, w).localCheckpoint(false)
        TempGrid.map { t =>
          scored
            .withColumn("conf", expr(
              s"greatest(0L, least(1000000L, 500000L + z div ${4L * t}L))"))
            .withColumn("sq", expr(
              "CAST((conf - y * 1000000L) * (conf - y * 1000000L) " +
                "AS DECIMAL(28,0))"))
            .agg(
              expr("CAST(sum(sq) div count(1) AS BIGINT)").as("mean_brier"),
              expr("sum(conf) div count(1)").as("mean_conf_ppm"))
            .select(lit(t).as("t"), col("mean_brier"), col("mean_conf_ppm"))
        }.reduce(_ unionAll _)
          .withColumn("chosen",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("mean_brier"), col("t"))) === 1)
          .orderBy(col("t"))
      },
      oracle = Some(temperatureOracle(Rounds))),

    // ---- q272: streamed broadcast-model scoring (22nd streaming law) ----
    // The one LLM-family operator that had no streaming dual: score
    // ARRIVING documents with the trained q233 model inside a real
    // micro-batch pipeline. The model is fitted offline (the exact
    // q233 training path, certified four gates deep), then shipped into
    // the stream as a 257-long PLAN LITERAL and applied as a STATELESS
    // in-row map — z = Σ_tokens w[bucket(token)] + bias equals the
    // batch Σ_j x_j·w_j exactly (integer addition is associative), so
    // no tokenize shuffle, no state store, no watermark is involved.
    // The law (the q168 stream-static recipe applied to the model
    // join): the drained per-doc scores ≡ batch scoring bit-for-bit —
    // the oracle replays the full 8-round training chain AND the
    // scoring, then the same confusion/margin rollup. Margin checksums
    // accumulate in DECIMAL(38,0)/HUGEINT.
    //
    // 100 TB posture: per micro-batch cost is a pure map over arriving
    // rows (the literal model costs no broadcast wave, no dim re-read);
    // the only aggregation is the 4-row post-drain card.
    "q272_streamed_model_scoring" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val w = HashedLogReg.train(x, docs.count(), Rounds, InvLr)
        StreamingGate.streamedModelScoring(spark, dir, w, StopTerms,
          ThreshPerMille)
      },
      oracle = Some(scoringOracle(Rounds))),

    // ---- q276: split-conformal coverage certificate ----
    // The SEVENTH certificate family, and the only one with a
    // FINITE-SAMPLE DISTRIBUTION-FREE guarantee (Vovk; Angelopoulos–
    // Bates): calibrate a nonconformity threshold on half the corpus,
    // and coverage on the other half is ≥ 1−α by exchangeability alone
    // — no model quality assumption, which is exactly what makes it
    // the shippable wrapper around the q233 classifier. Nonconformity
    // = |y·10⁶ − conf| (integer hard-sigmoid confidence residual);
    // threshold = the ⌈(1−α)(n_cal+1)⌉-th smallest calibration score
    // (exact order statistic, (value, doc_id)-ranked through the
    // stat-routed GlobalRank — never a single-partition sort); the
    // held-out half's measured coverage sits beside the guarantee for
    // a 3-value α grid. Everything integer; ceil by (a·b + 10⁶−1) div
    // 10⁶.
    //
    // 100 TB posture: training as q233; ranking via GlobalRank's
    // routed two-pass; the grid evaluates in ONE pass over the test
    // half against a broadcast 3-row threshold table.
    "q276_conformal_coverage" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val w = HashedLogReg.train(x, docs.count(), Rounds, InvLr)
        val scored = HashedLogReg.score(x, w)
          .withColumn("conf", expr(
            "greatest(0L, least(1000000L, 500000L + z div 4))"))
          .withColumn("nc", abs(col("y") * 1000000L - col("conf")))
          .localCheckpoint(false)
        val cal = scored.filter(col("doc_id") % 2 === 0)
        val test = scored.filter(col("doc_id") % 2 === 1)
        val nCal = cal.count()
        // rank nc ASCENDING through the non-negative DESC ranker:
        // value = 10⁶ − nc (nc ≤ 10⁶ by construction), so rn is the
        // k-th-smallest position with (nc, doc_id) tie order
        val ranked = GlobalRank.withRankAndPrefixAuto(
          cal.select(col("doc_id"), col("nc"),
            (lit(1000000L) - col("nc")).as("ncneg")),
          "ncneg", "doc_id", rowCount = Some(nCal))._2
        val thr = AlphaGrid.map { a =>
          val k = ((1000000L - a) * (nCal + 1) + 999999L) / 1000000L
          ranked.filter(col("rn") === k)
            .select(lit(a).as("alpha_ppm"), col("nc").as("thr"))
        }.reduce(_ unionAll _)
        test.crossJoin(broadcast(thr))
          .groupBy(col("alpha_ppm"), col("thr"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("nc") <= col("thr"), 1L).otherwise(0L))
              .as("n_covered"))
          .select(col("alpha_ppm"), lit(nCal).as("n_cal"), col("thr"),
            col("n_test"), col("n_covered"),
            expr("n_covered * 1000000 div n_test").as("coverage_ppm"),
            (lit(1000000L) - col("alpha_ppm")).as("target_ppm"))
          .orderBy(col("alpha_ppm"))
      },
      oracle = Some(conformalOracle(Rounds))),

    // ---- q289: inter-annotator agreement (Cohen's κ, unweighted +
    // linear-weighted) ----
    // The eval-data quality gate label pipelines run before trusting
    // ANY labeled set: how much do two raters agree beyond chance?
    // Raters here are two deterministic ordinal annotators over the
    // same docs — tercile band by char length vs tercile band by token
    // count (correlated but not identical, so the gate exercises real
    // off-diagonal mass); bands come from the stat-routed
    // [[graft.operators.GlobalRank]] ((3·(rn−1)) div n — the exact
    // integer tercile, never ntile's remainder ambiguity). κ =
    // (pₒ−pₑ)/(1−pₑ) computed entirely in cross-multiplied integers
    // (κ_ppm = (a·n − b)·10⁶ div (n² − b) with a = Σ diag, b =
    // Σ rowᵢ·colᵢ), and the ordinal form weighted by linear
    // disagreement |i−j| (κw_ppm = 10⁶ − Σn_ij·d_ij·n·10⁶ div
    // Σ rᵢ·c_j·d_ij) — products in DECIMAL(38,0)/HUGEINT. The cell
    // table is DENSIFIED against the full 3×3 grid before the κ sums
    // (the q293/q310 grid pattern, mirrored in the oracle): Cohen's
    // pₑ and the κw denominator range over every (i,j) band pair, so
    // an empty cell must contribute its rᵢ·c_j term, not vanish —
    // the sparse form overstates κw whenever correlated raters leave
    // an off-diagonal cell unpopulated. Output: always exactly 9 rows
    // — the full 3×3 confusion table with margins, κ and κw riding
    // every row (the q278 card pattern). The confusion→κ core is
    // [[kappaTable]], property-pinned in Round10PropertySpec on a
    // hand case with empty diagonal cells.
    //
    // 100 TB posture: two routed rank passes over the checkpoint-cut
    // projection, one 9-cell confusion agg, everything after at cell
    // cardinality.
    "q289_cohens_kappa" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"), col("n_chars").cast("long").as("x"),
            size(split(trim(col("text")), " ")).cast("long").as("y"))
          .localCheckpoint(false)
        val nRows = d.count()
        def band(valueCol: String, out: String) = {
          val (_, r) = GlobalRank.withRankAndPrefixAuto(
            d, valueCol, "doc_id", rowCount = Some(nRows))
          r.select(col("doc_id"),
            expr(s"(3 * (rn - 1)) div $nRows").as(out))
        }
        kappaTable(spark,
          band("x", "ra").join(band("y", "rb"), Seq("doc_id")))
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
                          CAST(len(string_split(trim(text), ' '))
                            AS BIGINT) AS y
                   FROM documents),
        n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        ra AS (SELECT doc_id, (3 * (CAST(ROW_NUMBER() OVER
                 (ORDER BY x DESC, doc_id) AS BIGINT) - 1)) // n1.n AS ra
               FROM d CROSS JOIN n1),
        rb AS (SELECT doc_id, (3 * (CAST(ROW_NUMBER() OVER
                 (ORDER BY y DESC, doc_id) AS BIGINT) - 1)) // n1.n AS rb
               FROM d CROSS JOIN n1),
        obs AS (SELECT ra, rb, CAST(COUNT(*) AS BIGINT) AS n_cell
                FROM ra JOIN rb USING (doc_id) GROUP BY 1, 2),
        grid AS (SELECT CAST(ga.range AS BIGINT) AS ra,
                        CAST(gb.range AS BIGINT) AS rb
                 FROM range(3) ga, range(3) gb),
        cells AS (SELECT g.ra, g.rb,
                         COALESCE(o.n_cell, CAST(0 AS BIGINT)) AS n_cell
                  FROM grid g LEFT JOIN obs o
                    ON g.ra = o.ra AND g.rb = o.rb),
        rm AS (SELECT ra, CAST(SUM(n_cell) AS BIGINT) AS r_m
               FROM cells GROUP BY 1),
        cm AS (SELECT rb, CAST(SUM(n_cell) AS BIGINT) AS c_m
               FROM cells GROUP BY 1),
        fl AS (SELECT c.ra, c.rb, c.n_cell, rm.r_m, cm.c_m
                FROM cells c JOIN rm USING (ra) JOIN cm USING (rb)),
        st AS (SELECT CAST(SUM(n_cell) AS HUGEINT) AS n,
                      CAST(SUM(CASE WHEN ra = rb THEN n_cell
                        ELSE 0 END) AS HUGEINT) AS a,
                      CAST(SUM(CASE WHEN ra = rb
                        THEN CAST(r_m AS HUGEINT) * c_m
                        ELSE 0 END) AS HUGEINT) AS b,
                      CAST(SUM(CAST(n_cell AS HUGEINT)
                        * ABS(ra - rb)) AS HUGEINT) AS dnum,
                      CAST(SUM(CAST(r_m AS HUGEINT) * c_m
                        * ABS(ra - rb)) AS HUGEINT) AS dden
               FROM fl),
        kp AS (SELECT CAST((a * n - b) * 1000000
                 // (n * n - b) AS BIGINT) AS kappa_ppm,
                      CAST(1000000 - dnum * n * 1000000 // dden
                        AS BIGINT) AS kappa_w_ppm
               FROM st)
        SELECT ra, rb, n_cell, r_m AS row_marg, c_m AS col_marg,
               kappa_ppm, kappa_w_ppm
        FROM fl CROSS JOIN kp ORDER BY ra, rb""")),

    // ---- q293: McNemar's paired test (early-stopping significance) ----
    // The model-comparison inference the training-dynamics family
    // (q243/q251/q254) stops short of: did rounds 5–8 SIGNIFICANTLY
    // improve the classifier, or is the round-8/round-4 accuracy gap
    // noise? Accuracy deltas on PAIRED predictions are exactly
    // McNemar's setting: only the discordant docs carry information
    // (b = round-4 right where round-8 wrong, c = the reverse), and
    // χ² = (|b−c|−1)²/(b+c) (Edwards continuity correction) against
    // the χ²₁ 5% critical value 3.841 — embedded as the integer
    // literal 3841 in BOTH plans at milli scale (the q270 no-libm
    // discipline). Both weight snapshots come from the SAME training
    // history q243 certifies (and the oracle's chain materializes w4
    // and w8 anyway), so this costs ONE extra keyed agg. Output: the
    // dense 2×2 right/wrong grid (coalesce-0 — cell absence must not
    // change the schema across SFs) with b, c, χ²-milli and the
    // decision riding every row.
    //
    // 100 TB posture: one agg over the bucketized |docs|·≤257 table
    // computing BOTH margins (two literal weight arrays in the
    // projection), then cell-cardinality arithmetic.
    "q293_mcnemar_early_stop" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val n = docs.count()
        val hist = HashedLogReg.trainHistory(x, n, Rounds, InvLr)
        def zc(w: Array[Long], out: String) =
          sum(col("x") * element_at(
            array(w.toSeq.map(lit): _*), col("j") + 1)).as(out)
        val z = x.groupBy(col("doc_id"))
          .agg(max(col("y")).as("y"),
            zc(hist(Rounds / 2 - 1), "z4"), zc(hist(Rounds - 1), "z8"))
          .select(
            when((col("y") === 1L) === (col("z4") >= 0L), 1L)
              .otherwise(0L).as("r4"),
            when((col("y") === 1L) === (col("z8") >= 0L), 1L)
              .otherwise(0L).as("r8"))
        val cell = z.groupBy(col("r4"), col("r8"))
          .agg(count(lit(1)).as("nc")).localCheckpoint(false)
        val grid = spark.range(2).select(col("id").as("r4"))
          .crossJoin(spark.range(2).select(col("id").as("r8")))
          .join(cell, Seq("r4", "r8"), "left")
          .withColumn("n_docs", coalesce(col("nc"), lit(0L))).drop("nc")
        val st = grid.agg(
          sum(when(col("r4") === 1L && col("r8") === 0L, col("n_docs"))
            .otherwise(0L)).as("b"),
          sum(when(col("r4") === 0L && col("r8") === 1L, col("n_docs"))
            .otherwise(0L)).as("c"))
          .withColumn("chi2_milli", expr(
            "CASE WHEN b + c = 0 THEN 0L ELSE " +
              "CAST((CAST(abs(b - c) - 1 AS DECIMAL(38,0))" +
              " * (abs(b - c) - 1)) * 1000 div (b + c) AS BIGINT) END"))
          .withColumn("significant",
            when(col("chi2_milli") >= 3841L, 1L).otherwise(0L))
        grid.crossJoin(broadcast(st))
          .select(col("r4").cast("long").as("round4_right"),
            col("r8").cast("long").as("round8_right"),
            col("n_docs"), col("b"), col("c"),
            col("chi2_milli"), col("significant"))
          .orderBy(col("round4_right"), col("round8_right"))
      },
      oracle = Some(mcnemarOracle(Rounds))),

    // ---- q310: confident-learning label-noise audit ----
    // The LABEL-QUALITY op the training family stops short of
    // (Northcutt's confident learning, the cleanlab core): given
    // (noisy label, model confidence), estimate WHICH examples are
    // mislabeled — per-class confidence thresholds t_j = the mean
    // confidence the class's OWN members get, then the confident
    // joint C[given][suggested] counts each example into the class
    // whose threshold its confidence clears (argmax on both-clear,
    // tie → positive; neither-clear = abstain). Off-diagonal mass IS
    // the label-noise estimate, and the flagged docs are the review
    // queue. Confidence is the sigmoid-linearized clamp of the q233
    // margin (the q254 t=1 form; thresholds on a monotone transform
    // select the same sets, documented). With labels from the q233
    // rule the audit should — and measured, does — certify them
    // near-clean: the off-diagonal is bucket-collision noise, and
    // that's the point of publishing the joint rather than trusting
    // the labeler. All arithmetic exact integers (truncated ppm
    // thresholds, exact comparisons).
    //
    // 100 TB posture: q233's training cost + ONE scoring pass; the
    // joint is a keyed count onto a 4-cell Range grid; thresholds and
    // totals are 1-row broadcasts.
    "q310_confident_learning" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val n = docs.count()
        val w = HashedLogReg.train(x, n, Rounds, InvLr)
        val cf = HashedLogReg.score(x, w)
          .withColumn("conf", expr(
            "greatest(0L, least(1000000L, 500000L + z div 4L))"))
          .localCheckpoint(false)
        val th = cf.agg(
          expr("CAST(sum(CASE WHEN y = 1 THEN conf ELSE 0L END)" +
            " div greatest(sum(y), 1L) AS BIGINT)").as("t1_ppm"),
          expr("CAST(sum(CASE WHEN y = 0 THEN 1000000L - conf" +
            " ELSE 0L END) div greatest(count(1) - sum(y), 1L)" +
            " AS BIGINT)").as("t0_ppm"))
        val asg = cf.crossJoin(broadcast(th))
          .withColumn("suggested", expr(
            "CASE WHEN conf >= t1_ppm AND 1000000 - conf >= t0_ppm" +
              " THEN CASE WHEN conf >= 1000000 - conf THEN 1L" +
              " ELSE 0L END" +
              " WHEN conf >= t1_ppm THEN 1L" +
              " WHEN 1000000 - conf >= t0_ppm THEN 0L" +
              " ELSE -1L END"))
        val joint = asg.filter(col("suggested") >= 0L)
          .groupBy(col("y").as("given"), col("suggested"))
          .agg(count(lit(1)).as("n_docs"))
        val tot = asg.agg(count(lit(1)).as("n_total"),
          sum(when(col("suggested") < 0L, 1L).otherwise(0L))
            .as("n_unassigned"),
          sum(when(col("suggested") >= 0L &&
            col("y") =!= col("suggested"), 1L).otherwise(0L))
            .as("n_flagged"),
          max(col("t1_ppm")).as("t1_ppm"),
          max(col("t0_ppm")).as("t0_ppm"))
        val grid = spark.range(4).select(
          expr("id div 2").as("given"), expr("id % 2").as("suggested"))
        grid.join(joint, Seq("given", "suggested"), "left")
          .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col("given"), col("suggested"), col("n_docs"),
            expr("n_docs * 1000000" +
              " div greatest(n_total - n_unassigned, 1L)")
              .as("share_ppm"),
            col("t1_ppm"), col("t0_ppm"), col("n_total"),
            col("n_unassigned"), col("n_flagged"),
            expr("n_flagged * 1000000" +
              " div greatest(n_total - n_unassigned, 1L)")
              .as("noise_ppm"),
            when(expr("n_flagged * 1000000" +
              " div greatest(n_total - n_unassigned, 1L)") < 20000L,
              "clean").otherwise("noisy").as("verdict"))
          .orderBy(col("given"), col("suggested"))
      },
      oracle = Some(confidentOracle(Rounds))),

    // ---- q311: successive-halving hyperparameter search ----
    // The resource-allocation schedule every training platform runs
    // over a hyperparameter grid (Jamieson–Talwalkar successive
    // halving, the ASHA core): train EVERY config briefly, keep the
    // best half, give survivors the bigger budget — most of the sweep's
    // cost goes to configs that were never going to win unless you
    // halve. Grid = 4 learning rates (invLr ∈ {4, 16, 64, 256} — the
    // production 16 bracketed by 4× either way); rung 1 = 2 gradient
    // rounds for all, rank by training accuracy (n_right DESC, invLr
    // tie-break), top-2 survive; rung 2 = 4 MORE rounds continuing
    // from each survivor's rung-1 weights (the q246 warm-start
    // contract — no round is recomputed), winner = rung-2 best.
    // Selection runs on the collected 4-row metric table (the q294
    // bandit precedent: the decision table is model-sized by
    // construction); every training round is engine-side. The oracle
    // unrolls ALL 24 rounds (4 configs × 2 + 4 configs × 4 as
    // generated CTEs with per-config learning rates), replays the
    // ranking in SQL, and emits rung-2 rows only for ITS OWN top-2 —
    // a selection disagreement anywhere cascades to a row mismatch.
    //
    // 100 TB posture: q233's per-round cost × the rung schedule (the
    // point of SH is that this beats grid × full budget); the report
    // is a bounded local table (plan-guarded).
    "q311_successive_halving" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val n = docs.count()
        def acc(w: Array[Long]): (Long, Long) = {
          val r = HashedLogReg.score(x, w)
            .agg(count(lit(1)).as("nd"),
              sum(expr("CASE WHEN (z >= 0) = (y = 1) THEN 1L" +
                " ELSE 0L END")).as("nr")).head
          (r.getAs[Long]("nd"), r.getAs[Long]("nr"))
        }
        val grid = Seq(4L, 16L, 64L, 256L)
        val rung1 = grid.map { lr =>
          val w2 = HashedLogReg.train(x, n, 2, lr)
          val (nd, nr) = acc(w2)
          (lr, w2, nd, nr)
        }
        val survivors = rung1.sortBy { case (lr, _, _, nr) => (-nr, lr) }
          .take(2).map(_._1).toSet
        val rung2 = rung1.filter(t => survivors(t._1)).map {
          case (lr, w2, _, _) =>
            val w6 = HashedLogReg.train(x, n, 4, lr, init = Some(w2))
            val (nd, nr) = acc(w6)
            (lr, nd, nr)
        }
        val winner = rung2.sortBy { case (lr, _, nr) => (-nr, lr) }
          .head._1
        val rows =
          rung1.map { case (lr, _, nd, nr) =>
            (lr, 1L, 2L, nd, nr, nr * 1000000L / nd,
              if (survivors(lr)) 1L else 0L, 0L)
          } ++ rung2.map { case (lr, nd, nr) =>
            (lr, 2L, 6L, nd, nr, nr * 1000000L / nd, 1L,
              if (lr == winner) 1L else 0L)
          }
        import spark.implicits._
        rows.toDF("invlr", "rung", "rounds_total", "n_docs", "n_right",
          "acc_ppm", "survived", "winner")
          .orderBy(col("invlr"), col("rung"))
      },
      oracle = Some(halvingOracle())),

    // ---- q321: fairness audit of the trained curation classifier ----
    // The BIAS counterpart to the privacy gates (q282 DP release, q283
    // t-closeness): before a trained filter (q233) is allowed to gate a
    // corpus, measure WHO it keeps. Groups = the document's source (the
    // attribute mixing/weighting decisions key on); per group, exact
    // ppm: selection rate (model keeps, z >= 0), TPR (= equal
    // opportunity, Hardt et al. 2016 — of the rule-positive docs, how
    // many the model keeps) and FPR (with TPR, equalized odds), plus
    // the two decision statistics fairness reviews actually read:
    // disparate impact = group rate / max group rate (the EEOC
    // four-fifths rule, flagged at < 0.8) and the equal-opportunity
    // gap = max TPR − group TPR. All floor-div ppm over exact counts;
    // zero-positive groups guarded by GREATEST(n,1) on both sides.
    // Measured sf0.1: FPR = 0 for every source (the fit never keeps a
    // rule-negative), but DI spans 0.706–1.000 and SIX of twenty
    // sources fail the four-fifths rule (max EO gap 0.126) — the
    // filter inherits the label rule's per-source base-rate skew, the
    // exact finding a mixing reweight (q223 raking) would consume.
    //
    // The oracle replays the ENTIRE 8-round training (the shared
    // trainCtes chain — a drifted fit shows up here as a changed
    // selection set), then mirrors the per-source rollup, so the hash
    // certifies model + audit together.
    //
    // 100 TB posture: training as q233; the audit is ONE more
    // source-keyed agg over the scored docs plus a 1-row max broadcast
    // — group count is bounded (sources), the corpus never re-shuffles.
    "q321_fairness_audit" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val x = features(docs)
        val n = docs.count()
        val w = HashedLogReg.train(x, n, Rounds, InvLr)
        val scored = HashedLogReg.score(x, w)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        val per = scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("y")).as("n_pos"),
            sum(when(col("z") >= 0L, 1L).otherwise(0L)).as("n_sel"),
            sum(when(col("z") >= 0L && col("y") === 1L, 1L)
              .otherwise(0L)).as("n_sel_pos"))
          .select(col("source"), col("n_docs"), col("n_pos"),
            col("n_sel"),
            expr("n_sel * 1000000L div n_docs").as("sel_rate_ppm"),
            expr("n_sel_pos * 1000000L div GREATEST(n_pos, 1L)")
              .as("tpr_ppm"),
            expr("(n_sel - n_sel_pos) * 1000000L div " +
              "GREATEST(n_docs - n_pos, 1L)").as("fpr_ppm"))
          .localCheckpoint(false)
        val mx = per.agg(max(col("sel_rate_ppm")).as("max_sel_ppm"),
          max(col("tpr_ppm")).as("max_tpr_ppm"))
        per.crossJoin(broadcast(mx))
          .select(col("source"), col("n_docs"), col("n_pos"),
            col("n_sel"), col("sel_rate_ppm"), col("tpr_ppm"),
            col("fpr_ppm"),
            expr("sel_rate_ppm * 1000000L div GREATEST(max_sel_ppm, 1L)")
              .as("di_ppm"),
            expr("max_tpr_ppm - tpr_ppm").as("eo_gap_ppm"),
            expr("CAST(CASE WHEN sel_rate_ppm * 1000000L div " +
              "GREATEST(max_sel_ppm, 1L) >= 800000 THEN 1 ELSE 0 END " +
              "AS BIGINT)").as("four_fifths_pass"))
          .orderBy(col("source"))
      },
      oracle = Some(fairnessOracle(Rounds)))
  )

  /** q254's oracle: the shared training chain, the final scoring join,
    * then one UNION ALL branch per grid temperature computing the exact
    * integer Brier mean — the chosen row re-derived by the same
    * (brier, t) ordering. */
  /** q311's oracle: ALL 24 gradient rounds unrolled (4 configs × rung-1,
    * 4 configs × rung-2 continuation — per-config learning rates via the
    * [[roundCtes]] invLr parameter), the rung-1 ranking replayed in SQL,
    * and rung-2 rows emitted only for the oracle's OWN top-2 — a
    * selection disagreement cascades to a row mismatch. */
  /** q289's confusion→κ core over a (ra, rb) ordinal label-pair table
    * (bands in 0..2). Densifies against the full 3×3 grid (left join +
    * coalesce 0 — the q293/q310 pattern) because Cohen's chance term
    * b = Σ rᵢ·cᵢ and the weighted-κ denominator dden = Σ rᵢ·c_j·|i−j|
    * sum over band PAIRS, not observed pairs: a zero cell must still
    * contribute its rᵢ·c_j term. Emits exactly 9 rows whatever the
    * data. Property-pinned on a hand case with empty diagonal cells
    * (Round10PropertySpec), where the sparse form provably overstates κ.
    */
  private[queries] def kappaTable(
      spark: org.apache.spark.sql.SparkSession,
      labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val observed = labels.groupBy(col("ra"), col("rb"))
      .agg(count(lit(1)).as("n_cell"))
    val grid = spark.range(3).select(col("id").as("ra"))
      .crossJoin(spark.range(3).select(col("id").as("rb")))
    val cells = grid.join(observed, Seq("ra", "rb"), "left")
      .select(col("ra"), col("rb"),
        coalesce(col("n_cell"), lit(0L)).as("n_cell"))
      .localCheckpoint(false)
    val rm = cells.groupBy(col("ra")).agg(sum(col("n_cell")).as("r_m"))
    val cm = cells.groupBy(col("rb")).agg(sum(col("n_cell")).as("c_m"))
    val full = cells.join(rm, Seq("ra")).join(cm, Seq("rb"))
    val stats = full.agg(
      sum(col("n_cell")).as("n"),
      sum(when(col("ra") === col("rb"), col("n_cell"))
        .otherwise(0L)).as("a"),
      sum(when(col("ra") === col("rb"),
        expr("CAST(r_m AS DECIMAL(38,0)) * c_m"))
        .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("b"),
      sum(expr("CAST(n_cell AS DECIMAL(38,0))" +
        " * abs(ra - rb)")).as("dnum"),
      sum(expr("CAST(r_m AS DECIMAL(38,0)) * c_m" +
        " * abs(ra - rb)")).as("dden"))
      .select(
        expr("CAST((CAST(a AS DECIMAL(38,0)) * n - b) * 1000000" +
          " div (CAST(n AS DECIMAL(38,0)) * n - b) AS BIGINT)")
          .as("kappa_ppm"),
        expr("CAST(1000000 - dnum * n * 1000000 div dden AS BIGINT)")
          .as("kappa_w_ppm"))
    full.crossJoin(broadcast(stats))
      .select(col("ra"), col("rb"), col("n_cell"),
        col("r_m").as("row_marg"), col("c_m").as("col_marg"),
        col("kappa_ppm"), col("kappa_w_ppm"))
      .orderBy(col("ra"), col("rb"))
  }

  private def halvingOracle(): String = {
    val grid = Seq(4L, 16L, 64L, 256L)
    val stage1 = grid.map(lr =>
      roundCtes("x", "nn", s"a$lr", "w0", 2, lr)).mkString
    val stage2 = grid.map(lr =>
      roundCtes("x", "nn", s"b$lr", s"a${lr}2", 4, lr)).mkString
    def accSel(lr: Long, wTable: String) = s"""
        SELECT CAST($lr AS BIGINT) AS invlr,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN (z >= 0) = (y = 1) THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_right
        FROM (SELECT x.doc_id, MAX(x.y) AS y,
                     CAST(SUM(x.x * w.wv) AS BIGINT) AS z
              FROM x JOIN $wTable w ON w.j = x.j GROUP BY x.doc_id)"""
    val s1 = grid.map(lr => accSel(lr, s"a${lr}2")).mkString(" UNION ALL ")
    val s2 = grid.map(lr => accSel(lr, s"b${lr}4")).mkString(" UNION ALL ")
    s"""${trainCtes(0)}$stage1$stage2,
        r1 AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_right DESC,
                 invlr) AS BIGINT) AS rk
               FROM ($s1)),
        r2 AS (SELECT s.*, CAST(ROW_NUMBER() OVER (ORDER BY s.n_right
                 DESC, s.invlr) AS BIGINT) AS rk2
               FROM ($s2) s
               JOIN r1 ON r1.invlr = s.invlr AND r1.rk <= 2)
        SELECT invlr, CAST(1 AS BIGINT) AS rung,
               CAST(2 AS BIGINT) AS rounds_total, n_docs, n_right,
               n_right * 1000000 // n_docs AS acc_ppm,
               CAST(CASE WHEN rk <= 2 THEN 1 ELSE 0 END AS BIGINT)
                 AS survived,
               CAST(0 AS BIGINT) AS winner
        FROM r1
        UNION ALL
        SELECT invlr, CAST(2 AS BIGINT), CAST(6 AS BIGINT), n_docs,
               n_right, n_right * 1000000 // n_docs,
               CAST(1 AS BIGINT),
               CAST(CASE WHEN rk2 = 1 THEN 1 ELSE 0 END AS BIGINT)
        FROM r2
        ORDER BY invlr, rung"""
  }

  /** q310's oracle: the shared training chain + scoring (as
    * [[temperatureOracle]]'s zf), then the confident-joint arithmetic —
    * thresholds, argmax assignment, 4-cell grid, noise totals. */
  private def confidentOracle(rounds: Int): String =
    s"""${trainCtes(rounds)},
        zf AS MATERIALIZED (
          SELECT x.doc_id, MAX(x.y) AS y,
                 CAST(SUM(x.x * w.wv) AS BIGINT) AS z
          FROM x JOIN w$rounds w ON w.j = x.j GROUP BY x.doc_id),
        cf AS (SELECT doc_id, y,
                      GREATEST(CAST(0 AS BIGINT),
                        LEAST(CAST(1000000 AS BIGINT), 500000 + z // 4))
                        AS conf
               FROM zf),
        th AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN conf ELSE 0 END)
                        // GREATEST(SUM(y), 1) AS BIGINT) AS t1_ppm,
                      CAST(SUM(CASE WHEN y = 0 THEN 1000000 - conf
                        ELSE 0 END) // GREATEST(COUNT(*) - SUM(y), 1)
                        AS BIGINT) AS t0_ppm
               FROM cf),
        asg AS (SELECT cf.y, th.t1_ppm, th.t0_ppm,
                       CASE WHEN conf >= t1_ppm
                           AND 1000000 - conf >= t0_ppm
                         THEN CASE WHEN conf >= 1000000 - conf THEN 1
                           ELSE 0 END
                         WHEN conf >= t1_ppm THEN 1
                         WHEN 1000000 - conf >= t0_ppm THEN 0
                         ELSE -1 END AS suggested
                FROM cf CROSS JOIN th),
        joint AS (SELECT y AS given, CAST(suggested AS BIGINT)
                    AS suggested, CAST(COUNT(*) AS BIGINT) AS n_docs
                  FROM asg WHERE suggested >= 0 GROUP BY 1, 2),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                       CAST(SUM(CASE WHEN suggested < 0 THEN 1 ELSE 0
                         END) AS BIGINT) AS n_unassigned,
                       CAST(SUM(CASE WHEN suggested >= 0
                         AND y <> suggested THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_flagged,
                       MAX(t1_ppm) AS t1_ppm, MAX(t0_ppm) AS t0_ppm
                FROM asg),
        grid AS (SELECT CAST(range // 2 AS BIGINT) AS given,
                        CAST(range % 2 AS BIGINT) AS suggested
                 FROM range(0, 4))
        SELECT g.given, g.suggested, COALESCE(j.n_docs, 0) AS n_docs,
               COALESCE(j.n_docs, 0) * 1000000
                 // GREATEST(t.n_total - t.n_unassigned, 1)
                 AS share_ppm,
               t.t1_ppm, t.t0_ppm, t.n_total, t.n_unassigned,
               t.n_flagged,
               t.n_flagged * 1000000
                 // GREATEST(t.n_total - t.n_unassigned, 1) AS noise_ppm,
               CASE WHEN t.n_flagged * 1000000
                 // GREATEST(t.n_total - t.n_unassigned, 1) < 20000
                 THEN 'clean' ELSE 'noisy' END AS verdict
        FROM grid g
        LEFT JOIN joint j ON j.given = g.given
          AND j.suggested = g.suggested
        CROSS JOIN tot t
        ORDER BY g.given, g.suggested"""

  private def temperatureOracle(rounds: Int): String = {
    val branches = TempGrid.map { t =>
      s"""
        SELECT CAST($t AS BIGINT) AS t,
               CAST(SUM(CAST((conf - y * 1000000) * (conf - y * 1000000)
                   AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_brier,
               CAST(SUM(conf) AS BIGINT) // COUNT(*) AS mean_conf_ppm
        FROM (SELECT y, GREATEST(CAST(0 AS BIGINT),
                LEAST(CAST(1000000 AS BIGINT), 500000 + z // ${4 * t}))
                AS conf FROM zf)"""
    }.mkString(" UNION ALL ")
    s"""${trainCtes(rounds)},
        zf AS MATERIALIZED (
          SELECT x.doc_id, MAX(x.y) AS y,
                 CAST(SUM(x.x * w.wv) AS BIGINT) AS z
          FROM x JOIN w$rounds w ON w.j = x.j GROUP BY x.doc_id),
        grid AS ($branches)
        SELECT t, mean_brier, mean_conf_ppm,
               (ROW_NUMBER() OVER (ORDER BY mean_brier, t)) = 1 AS chosen
        FROM grid ORDER BY t"""
  }

  /** q251's oracle: the shared feature chain, then TWO independent
    * unrolled fits (model `wa` on the odd half, `wb` on the even half)
    * from the [[roundCtes]] generator, each scoring its HELD-OUT half
    * into a per-fold confusion row. */
  private def crossValOracle(rounds: Int): String = {
    s"""${trainCtes(0)},
        xe AS MATERIALIZED (SELECT * FROM x WHERE doc_id % 2 = 0),
        xo AS MATERIALIZED (SELECT * FROM x WHERE doc_id % 2 = 1),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab
               WHERE doc_id % 2 = 0),
        nodd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab
                 WHERE doc_id % 2 = 1)${
      roundCtes("xo", "nodd", "wa", "w0", rounds)}${
      roundCtes("xe", "ne", "wb", "w0", rounds)},
        za AS (SELECT x.doc_id, MAX(x.y) AS y,
                      CAST(SUM(x.x * w.wv) AS BIGINT) AS z
               FROM xe x JOIN wa$rounds w ON w.j = x.j GROUP BY x.doc_id),
        zb AS (SELECT x.doc_id, MAX(x.y) AS y,
                      CAST(SUM(x.x * w.wv) AS BIGINT) AS z
               FROM xo x JOIN wb$rounds w ON w.j = x.j GROUP BY x.doc_id),
        ca AS (SELECT CAST(0 AS BIGINT) AS fold,
                      (SELECT n FROM nodd) AS n_train,
                      $ConfusionCounts
               FROM za),
        cb AS (SELECT CAST(1 AS BIGINT) AS fold,
                      (SELECT n FROM ne) AS n_train,
                      $ConfusionCounts
               FROM zb)
        SELECT fold, n_train, n_test, tp, fp, fn, tn,
               ((tp + tn) * 1000000) // n_test AS acc_ppm
        FROM (SELECT * FROM ca UNION ALL SELECT * FROM cb)
        ORDER BY fold"""
  }

  /** q246's oracle: phase A (8 rounds on the doc_id-even half, its own
    * n) then phase B (2 rounds on the full table, seeded from wa8) —
    * the [[roundCtes]] generator twice, then the q233 scoring tail on
    * phase B's final weights. */
  private def incrementalOracle(roundsA: Int, roundsB: Int): String = {
    s"""${trainCtes(0)},
        xe AS MATERIALIZED (SELECT * FROM x WHERE doc_id % 2 = 0),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab
               WHERE doc_id % 2 = 0)${
      roundCtes("xe", "ne", "wa", "w0", roundsA)}${
      roundCtes("x", "nn", "wb", s"wa$roundsA", roundsB)},
        zf AS (SELECT x.doc_id, MAX(x.y) AS y,
                      CAST(SUM(x.x * w.wv) AS BIGINT) AS z
               FROM x JOIN wb$roundsB w ON w.j = x.j GROUP BY x.doc_id),
        $DecileTail"""
  }

  /** q321's oracle: the SAME unrolled training chain, then the final
    * scoring join, the per-source fairness rollup, and the 1-row max
    * rates joined back for disparate impact / equal-opportunity gap —
    * every rate the same floor-div ppm over exact counts. */
  private def fairnessOracle(rounds: Int): String =
    s"""${trainCtes(rounds)},
        zs AS (SELECT x.doc_id, MAX(x.y) AS y,
                      CAST(SUM(x.x * w.wv) AS BIGINT) AS z
               FROM x JOIN w$rounds w ON w.j = x.j GROUP BY x.doc_id),
        per AS (SELECT d.source,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(zs.y) AS BIGINT) AS n_pos,
                       CAST(SUM(CASE WHEN zs.z >= 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_sel,
                       CAST(SUM(CASE WHEN zs.z >= 0 AND zs.y = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sel_pos
                FROM zs JOIN documents d ON d.doc_id = zs.doc_id
                GROUP BY 1),
        rates AS (SELECT source, n_docs, n_pos, n_sel,
                         n_sel * 1000000 // n_docs AS sel_rate_ppm,
                         n_sel_pos * 1000000 // GREATEST(n_pos, 1)
                           AS tpr_ppm,
                         (n_sel - n_sel_pos) * 1000000
                           // GREATEST(n_docs - n_pos, 1) AS fpr_ppm
                  FROM per),
        mx AS (SELECT MAX(sel_rate_ppm) AS max_sel_ppm,
                      MAX(tpr_ppm) AS max_tpr_ppm FROM rates)
        SELECT r.source, r.n_docs, r.n_pos, r.n_sel, r.sel_rate_ppm,
               r.tpr_ppm, r.fpr_ppm,
               r.sel_rate_ppm * 1000000 // GREATEST(mx.max_sel_ppm, 1)
                 AS di_ppm,
               mx.max_tpr_ppm - r.tpr_ppm AS eo_gap_ppm,
               CAST(CASE WHEN r.sel_rate_ppm * 1000000
                 // GREATEST(mx.max_sel_ppm, 1) >= 800000
                 THEN 1 ELSE 0 END AS BIGINT) AS four_fifths_pass
        FROM rates r CROSS JOIN mx ORDER BY r.source"""

  /** q233's oracle: the full fixed-point training run unrolled. Round k
    * derives weight table w_k from w_{k-1} entirely in SQL — per-doc
    * margin (join x ⋈ w), hard-sigmoid error in ppm, per-bucket gradient,
    * integer update ((g // n) // invLr) with absent buckets as gradient
    * 0 — then the final weights score every doc and the decile rollup
    * mirrors the Spark side's GlobalRank ordering (z DESC, doc_id). */
  private def lrOracle(rounds: Int): String = {
    s"""${trainCtes(rounds)},
        zf AS (SELECT x.doc_id, MAX(x.y) AS y,
                      CAST(SUM(x.x * w.wv) AS BIGINT) AS z
               FROM x JOIN w$rounds w ON w.j = x.j GROUP BY x.doc_id),
        $DecileTail"""
  }

  /** q272's oracle: the SAME unrolled training chain, then batch scoring
    * against the final round's weights and the confusion/margin rollup
    * the drained stream produces — hash equality IS the stream-static
    * model-completeness law. */
  private def scoringOracle(rounds: Int): String =
    s"""${trainCtes(rounds)},
        zs AS (SELECT x.doc_id, MAX(x.y) AS y,
                      CAST(SUM(x.x * w.wv) AS BIGINT) AS z
               FROM x JOIN w$rounds w ON w.j = x.j GROUP BY x.doc_id)
        SELECT CAST(y AS BIGINT) AS y,
               CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
               COUNT(*) AS n_docs,
               CAST(SUM(z) AS BIGINT) AS sum_z,
               MIN(z) AS min_z, MAX(z) AS max_z
        FROM zs GROUP BY 1, 2 ORDER BY y, pred"""

  /** q276's oracle: the SAME unrolled training chain, then the exact
    * split-conformal procedure — nonconformity residuals, the
    * ⌈(1−α)(n_cal+1)⌉-th smallest calibration score per α (integer
    * ceil), and held-out coverage against each threshold. */
  private def conformalOracle(rounds: Int): String =
    s"""${trainCtes(rounds)},
        zs AS (SELECT x.doc_id, MAX(x.y) AS y,
                      CAST(SUM(x.x * w.wv) AS BIGINT) AS z
               FROM x JOIN w$rounds w ON w.j = x.j GROUP BY x.doc_id),
        sc AS (SELECT doc_id, y,
                      ABS(y * 1000000 - GREATEST(CAST(0 AS BIGINT),
                        LEAST(CAST(1000000 AS BIGINT), 500000 + z // 4)))
                        AS nc
               FROM zs),
        cal AS (SELECT * FROM sc WHERE doc_id % 2 = 0),
        tst AS (SELECT * FROM sc WHERE doc_id % 2 = 1),
        ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cal),
        rk AS (SELECT nc, ROW_NUMBER() OVER (ORDER BY nc, doc_id) AS rn
               FROM cal),
        alphas AS (SELECT CAST(unnest([${AlphaGrid.mkString(", ")}])
                     AS BIGINT) AS alpha_ppm),
        thr AS (SELECT a.alpha_ppm, r.nc AS thr
                FROM alphas a CROSS JOIN ncal n JOIN rk r
                  ON r.rn = ((1000000 - a.alpha_ppm) * (n.n + 1)
                             + 999999) // 1000000)
        SELECT t.alpha_ppm, n.n AS n_cal, t.thr,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN s.nc <= t.thr THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_covered,
               CAST(SUM(CASE WHEN s.nc <= t.thr THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000 // COUNT(*) AS coverage_ppm,
               1000000 - t.alpha_ppm AS target_ppm
        FROM tst s CROSS JOIN thr t CROSS JOIN ncal n
        GROUP BY t.alpha_ppm, n.n, t.thr ORDER BY t.alpha_ppm"""

  /** q293's oracle: the SAME unrolled training chain (which
    * materializes every round's weights), then one scoring pass against
    * BOTH the mid-training and final snapshots, the dense 2×2
    * right/wrong grid, and McNemar's continuity-corrected χ² at milli
    * scale vs the 3841 critical-value literal. */
  private def mcnemarOracle(rounds: Int): String = {
    val mid = rounds / 2
    s"""${trainCtes(rounds)},
        z48 AS (SELECT x.doc_id, MAX(x.y) AS y,
                       CAST(SUM(x.x * wa.wv) AS BIGINT) AS z4,
                       CAST(SUM(x.x * wb.wv) AS BIGINT) AS z8
                FROM x JOIN w$mid wa ON wa.j = x.j
                       JOIN w$rounds wb ON wb.j = x.j
                GROUP BY x.doc_id),
        p AS (SELECT CAST(CASE WHEN (y = 1) = (z4 >= 0) THEN 1 ELSE 0
                       END AS BIGINT) AS r4,
                     CAST(CASE WHEN (y = 1) = (z8 >= 0) THEN 1 ELSE 0
                       END AS BIGINT) AS r8
              FROM z48),
        cell AS (SELECT r4, r8, CAST(COUNT(*) AS BIGINT) AS nc
                 FROM p GROUP BY 1, 2),
        grid AS (SELECT CAST(a.v AS BIGINT) AS r4, CAST(b.v AS BIGINT)
                          AS r8, COALESCE(cell.nc, 0) AS n_docs
                 FROM (VALUES (0), (1)) a(v)
                 CROSS JOIN (VALUES (0), (1)) b(v)
                 LEFT JOIN cell ON cell.r4 = a.v AND cell.r8 = b.v),
        st AS (SELECT
                 CAST(SUM(CASE WHEN r4 = 1 AND r8 = 0 THEN n_docs
                   ELSE 0 END) AS BIGINT) AS b,
                 CAST(SUM(CASE WHEN r4 = 0 AND r8 = 1 THEN n_docs
                   ELSE 0 END) AS BIGINT) AS c
               FROM grid),
        k AS (SELECT b, c,
                     CASE WHEN b + c = 0 THEN 0
                          ELSE CAST((CAST(ABS(b - c) - 1 AS HUGEINT)
                            * (ABS(b - c) - 1)) * 1000 // (b + c)
                            AS BIGINT) END AS chi2_milli
              FROM st)
        SELECT grid.r4 AS round4_right, grid.r8 AS round8_right,
               grid.n_docs, k.b, k.c, k.chi2_milli,
               CAST(CASE WHEN k.chi2_milli >= 3841 THEN 1 ELSE 0 END
                 AS BIGINT) AS significant
        FROM grid CROSS JOIN k
        ORDER BY round4_right, round8_right"""
  }

  /** The shared unrolled-training WITH-chain (tok/lab/x/nn/w0 .. w_R) —
    * q233's scoring tail and q243's cartography tail both append to
    * it, so the two oracles cannot drift from each other's training
    * replay. */
  private def trainCtes(rounds: Int): String = {
    val head = s"""
        WITH tok AS MATERIALIZED (
          SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
          FROM documents),
        lab AS MATERIALIZED (
          SELECT doc_id,
                 CASE WHEN CAST(SUM(CASE WHEN term IN ('the', 'a')
                                  THEN 1 ELSE 0 END) AS BIGINT) * 1000
                      // CAST(COUNT(*) AS BIGINT) >= $ThreshPerMille
                      THEN 1 ELSE 0 END AS y
          FROM tok GROUP BY 1),
        x AS MATERIALIZED (
          SELECT f.doc_id, lab.y, f.j, f.x
          FROM (SELECT doc_id,
                       (instr('0123456789abcdef', substring(md5(term), 1, 1))
                        - 1) * 16
                       + instr('0123456789abcdef', substring(md5(term), 2, 1))
                       - 1 AS j,
                       CAST(COUNT(*) AS BIGINT) AS x
                FROM tok GROUP BY 1, 2) f
          JOIN lab USING (doc_id)
          UNION ALL
          SELECT doc_id, y, ${HashedLogReg.Buckets}, CAST(1 AS BIGINT)
          FROM lab),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
        w0 AS (SELECT unnest(generate_series(0, ${HashedLogReg.Buckets}))
                        AS j,
                      CAST(0 AS BIGINT) AS wv)"""
    s"$head${roundCtes("x", "nn", "w", "w0", rounds)}"
  }

  /** One generated block of `rounds` gradient-round CTEs reading feature
    * table `xT` (n from `nT`), starting from weight table `wInit`,
    * emitting `$wPrefix 1 .. $wPrefix rounds` — shared by the scratch
    * (q233/q243) and warm-start (q246) oracles. */
  private def roundCtes(xT: String, nT: String, wPrefix: String,
      wInit: String, rounds: Int, invLr: Long = InvLr): String =
    (1 to rounds).map { k =>
      val prev = if (k == 1) wInit else s"$wPrefix${k - 1}"
      s""",
        z$wPrefix$k AS (SELECT x.doc_id, MAX(x.y) AS y,
                       CAST(SUM(x.x * w.wv) AS BIGINT) AS z
                FROM $xT x JOIN $prev w ON w.j = x.j GROUP BY x.doc_id),
        e$wPrefix$k AS (SELECT doc_id,
                       y * 1000000 - GREATEST(CAST(0 AS BIGINT),
                         LEAST(CAST(1000000 AS BIGINT), 500000 + z // 4))
                         AS err
                FROM z$wPrefix$k),
        g$wPrefix$k AS (SELECT x.j, CAST(SUM(e.err * x.x) AS BIGINT) AS g
                FROM e$wPrefix$k e JOIN $xT x ON x.doc_id = e.doc_id
                GROUP BY x.j),
        $wPrefix$k AS MATERIALIZED (
          SELECT w.j,
                 w.wv + ((COALESCE(g.g, 0) // $nT.n) // $invLr) AS wv
          FROM $prev w LEFT JOIN g$wPrefix$k g ON g.j = w.j
          CROSS JOIN $nT)"""
    }.mkString

  /** q243's oracle: the SAME unrolled training chain, then per-round
    * true-label confidences per doc (conf_r = σ_r if y = 1 else
    * 1e6 − σ_r from each round's weight snapshot w_r), the integer
    * training-dynamics statistics mean = Σconf div R and
    * varq = R·Σconf² − (Σconf)² (exact population variance scaled by
    * R²), and the cartography-region rollup. */
  private def cartographyOracle(rounds: Int): String = {
    val perRound = (1 to rounds).map { k =>
      s"""
        SELECT x.doc_id, MAX(x.y) AS y,
               CASE WHEN MAX(x.y) = 1
                    THEN GREATEST(CAST(0 AS BIGINT),
                      LEAST(CAST(1000000 AS BIGINT),
                        500000 + CAST(SUM(x.x * w.wv) AS BIGINT) // 4))
                    ELSE 1000000 - GREATEST(CAST(0 AS BIGINT),
                      LEAST(CAST(1000000 AS BIGINT),
                        500000 + CAST(SUM(x.x * w.wv) AS BIGINT) // 4))
               END AS conf
        FROM x JOIN w$k w ON w.j = x.j GROUP BY x.doc_id"""
    }.mkString(" UNION ALL ")
    s"""${trainCtes(rounds)},
        cart AS ($perRound),
        agg AS (SELECT doc_id, MAX(y) AS y,
                       CAST(SUM(conf) AS BIGINT) AS sc,
                       CAST(SUM(conf * conf) AS BIGINT) AS sq
                FROM cart GROUP BY 1),
        m AS (SELECT doc_id, y, sc // $rounds AS mean_conf,
                     $rounds * sq - sc * sc AS varq
              FROM agg),
        reg AS (SELECT CASE WHEN varq >= $VarThreshold THEN 'ambiguous'
                            WHEN mean_conf >= $EasyCut THEN 'easy'
                            WHEN mean_conf <= $HardCut THEN 'hard'
                            ELSE 'mid' END AS region,
                       y, mean_conf, varq
                FROM m)
        SELECT region, COUNT(*) AS n_docs,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(mean_conf) AS BIGINT) // COUNT(*)
                 AS avg_conf_ppm,
               CAST(MAX(varq) AS BIGINT) AS max_varq
        FROM reg GROUP BY 1 ORDER BY region"""
  }
}
