package graft.queries

import graft.core.Tables
import graft.functions.VectorFunctions._
import graft.operators.ProductQuantizer.{quant, sqDist}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus mining & selection operators — the layer between raw curation
  * (queries/Curation) and training-set assembly (queries/Training):
  * clustering the corpus (q124), carving leakage-safe splits (q125),
  * Pareto-selecting documents under competing quality criteria (q126),
  * sliding-window repeated-substring detection (q127, the ExactSubstr
  * signal), and positional phrase search over an inverted index (q128).
  *
  * Every operator is pure relational algebra with engine-portable keys
  * (md5 / scaled integers), so each gate is fully DuckDB-replayable —
  * including the iterative k-means, which follows q106's fixed-point
  * determinism recipe.
  */
object Mining {

  /** (vec_id, v): the floor-quantized integer copy of each vector
    * (`ProductQuantizer.quant`), checkpointed for the Lloyd rounds. */
  private def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), quant(col("e")).as("v"))
      .localCheckpoint(false)

  /** One Lloyd assignment pass: each vector to its min-sqDist centroid
    * (ties → lowest cid). Returns (vec_id, cid, dist).
    *
    * 100 TB posture: centroids broadcast (k rows), assignment is one
    * map-side pass with a partial-aggregating min_by — no vector ever
    * shuffles, the reduce state is one (cid, dist) pair per vector. */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), sqDist(col("v"), col("cv")).as("d"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cid"),
        min(struct(col("d"), col("cid"))).getField("d").as("dist"))

  /** Lloyd centroid update in exact integer arithmetic: component-wise
    * floor(mean). Sums stay < 2^53 (|comp| ≤ 1e6, count ≤ 2^43 before
    * the double-exactness bound binds), so the double division is exact
    * and floor is engine-portable.
    *
    * 100 TB posture: the dim-explode produces n·d rows but they partial-
    * aggregate map-side onto k·d groups — the shuffle carries k·d
    * (cid, dim, sum, count) tuples, not vectors. */
  private def updateCentroids(e: DataFrame, assigned: DataFrame): DataFrame =
    assigned.join(e, "vec_id")
      .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i"))
      .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("comp"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("comp")))),
        s => s.getField("comp")).as("cv"))

  /** Fixed-point k-means fit of `e` (vec_id, v): init on the k lowest
    * ids, then `iters` Lloyd rounds. Returns the last (cents, assigned). */
  private def fit(e: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    var cents = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    var assigned = assign(e, cents)
    for (_ <- 2 to iters) {
      cents = updateCentroids(e, assigned)
      assigned = assign(e, cents)
    }
    (cents, assigned)
  }

  /** DuckDB mirror of [[quantized]]: the `e` (vec_id, v) CTE. */
  private val SqlQuantized: String = """
        WITH e AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
          FROM embeddings)"""

  /** DuckDB mirror of [[assign]]'s distances: `x` (the alias of `from`)
    * against each centroid of `cents`, as (vec_id, cid, d). */
  private def sqlDist(x: String, from: String, cents: String): String =
    s"""SELECT $x.vec_id, c.cid,
                 CAST(list_sum(list_transform(list_zip($x.v, c.cv),
                   p -> (p[1] - p[2]) * (p[1] - p[2])))
                   AS BIGINT) AS d
          FROM $from CROSS JOIN $cents c"""

  /** DuckDB mirror of [[assign]]'s argmin over the distances `d`
    * (ties → lowest cid), keeping `cols`. */
  private def sqlArgmin(cols: String, d: String): String =
    s"""SELECT $cols FROM (
                 SELECT $cols,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY d, cid) AS rn
                 FROM $d) WHERE rn = 1"""

  /** DuckDB mirror of [[fit]] at k = 8, iters = 2 over the source CTE
    * `src` (vec_id, v), aliased `x` in the distance joins: c0 (init),
    * d1/a1, comp/c1 (the [[updateCentroids]] step), d2/a2 (with d).
    * `c1`/`d2` open those two CTEs, so each oracle keeps its own
    * materialization hints. */
  private def sqlFit(src: String, x: String, c1: String, d2: String): String = {
    val from = if (x == src) src else s"$src $x"
    s"""c0 AS (SELECT vec_id AS cid, v AS cv FROM $src ORDER BY vec_id LIMIT 8),
        d1 AS (
          ${sqlDist(x, from, "c0")}),
        a1 AS (${sqlArgmin("vec_id, cid", "d1")}),
        comp AS (
          SELECT a1.cid, t.i,
                 CAST(floor(CAST(SUM(t.x) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS comp
          FROM a1 JOIN $src USING (vec_id),
               LATERAL (SELECT UNNEST($src.v) AS x,
                               generate_subscripts($src.v, 1) AS i) t
          GROUP BY a1.cid, t.i),
        ${c1}SELECT cid, list(comp ORDER BY i) AS cv FROM comp GROUP BY cid),
        $d2
          ${sqlDist(x, from, "c1")}),
        a2 AS (${sqlArgmin("vec_id, cid, d", "d2")})"""
  }

  /** Fixed-point k-means over an embedding table: deterministic init
    * (the k lowest-id vectors), `iters` Lloyd rounds in scaled-integer
    * arithmetic (q106's determinism recipe — float centroids are
    * partition-order dependent, integer ones are bit-identical on any
    * engine), then a per-cluster report: population, exact integer
    * inertia, id range. */
  def kmeansStats(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val (_, assigned) = fit(quantized(emb), k, iters)
    assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist")).as("inertia"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
      .orderBy(col("cid"))
  }

  /** Incremental IVF index refresh — the ANN member of the incremental
    * family (exact dedup q84, LSH signatures q191, classifier q246):
    * centroids are FIT once on the existing half of the corpus
    * (vec_id % 2 = 0, the q124 recipe verbatim), then NEWLY ARRIVED
    * vectors (odd ids) are assigned to the EXISTING cells — one
    * broadcast pass, which is the entire point: index maintenance must
    * not refit on every ingest. The per-cell card reports what an index
    * operator reads before scheduling a refit: old/new population,
    * growth, mean quantization error of each population, signed error
    * drift (sign-safe cross-division — new vectors landing measurably
    * farther from their centroid than the fitted population means the
    * cell has gone stale), and the reindex decision at +25% drift.
    *
    * 100 TB posture: fit as q124 (broadcast centroids, k·d-tuple
    * shuffles); the incremental assignment is ONE map-side broadcast
    * pass over the new vectors — no refit, no old-vector rescan beyond
    * the same pass q124 already pays; the card is k rows. */
  def incrementalIvfStats(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val q = quantized(emb)
    val old = q.filter(col("vec_id") % 2 === 0)
    val neu = q.filter(col("vec_id") % 2 === 1)
    val (cents, assigned) = fit(old, k, iters)
    val aOld = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_old"), sum(col("dist")).as("in_old"))
    val aNew = assign(neu, cents).groupBy(col("cid"))
      .agg(count(lit(1)).as("n_new"), sum(col("dist")).as("in_new"))
    aOld.join(aNew, Seq("cid"), "full_outer")
      .select(col("cid"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("in_old"), lit(0L)).as("in_old"),
        coalesce(col("in_new"), lit(0L)).as("in_new"))
      .withColumn("growth_ppm",
        expr("n_new * 1000000 div greatest(n_old, 1L)"))
      .withColumn("err_old", expr("in_old div greatest(n_old, 1L)"))
      .withColumn("err_new", expr("in_new div greatest(n_new, 1L)"))
      .withColumn("drift_ppm", expr(
        "CASE WHEN err_new - err_old >= 0 " +
          "THEN (err_new - err_old) * 1000000 div greatest(err_old, 1L) " +
          "ELSE -((err_old - err_new) * 1000000 " +
          "div greatest(err_old, 1L)) END"))
      .withColumn("action",
        when(col("drift_ppm") > 250000L, "reindex").otherwise("ok"))
      .select(col("cid"), col("n_old"), col("n_new"), col("growth_ppm"),
        col("err_old"), col("err_new"), col("drift_ppm"), col("action"))
      .orderBy(col("cid"))
  }

  /** Simplified silhouette (centroid-based, Hruschka et al.) over the
    * fixed-point k-means fit: per vector, a = integer distance to its
    * OWN centroid, b = min distance to any OTHER centroid,
    * s = (b − a)·1e6 div max(a, b) — the standard cluster-quality audit
    * a SemDeDup/IVF cell-sizing pass reads before trusting the cells
    * (full silhouette is all-pairs; the centroid form is the one that
    * scales). Same fixed-point recipe as [[kmeansStats]], so DuckDB
    * replays the fit AND the audit bit-for-bit.
    *
    * 100 TB posture: the fit as q124 (centroids broadcast, k·d-tuple
    * shuffles); the audit is ONE more broadcast pass — each vector's
    * k distances and the (a, b) reduction happen map-side; the report
    * is k rows. */
  def silhouetteStats(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = quantized(emb)
    val (cents, assigned) = fit(e, k, iters)
    val allD = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), sqDist(col("v"), col("cv")).as("d"))
    val own = assigned.select(col("vec_id"), col("cid").as("own"),
      col("dist").as("a"))
    val b = allD.join(own, "vec_id").filter(col("cid") =!= col("own"))
      .groupBy(col("vec_id")).agg(min(col("d")).as("b"))
    own.join(b, "vec_id")
      .withColumn("s_ppm",
        when(greatest(col("a"), col("b")) === 0L, 0L)
          .otherwise(expr("((b - a) * 1000000) div greatest(a, b)")))
      .groupBy(col("own").as("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(s_ppm) div count(1)").as("mean_s_ppm"),
        min(col("s_ppm")).as("min_s_ppm"),
        max(col("s_ppm")).as("max_s_ppm"))
      .orderBy(col("cid"))
  }

  /** 2-criteria skyline (Pareto frontier; Börzsönyi et al., ICDE'01)
    * with a lossless grid prune. A row is IN the skyline iff no other
    * row is ≥ in both criteria and > in at least one.
    *
    * Scale shape: the naive skyline is an all-pairs dominance test. The
    * grid prune removes — before any pairwise work — every point whose
    * occupancy cell has a non-empty cell strictly NE of it: any point
    * there strictly dominates the whole SW cell (bucket ranges are
    * half-open, so strictly-higher bucket ⇒ strictly-higher value).
    * The prune is LOSSLESS for the final answer: no skyline point is
    * ever pruned (pruned ⇒ dominated), and every dominated survivor is
    * dominated by some skyline point (follow the dominance chain up; it
    * ends at an undominated point, which survives). So the pairwise
    * check runs only on the near-frontier band — at 100 TB the
    * all-pairs stage sees thousands of rows, not billions; the grid
    * pass is one agg + one broadcast of ≤ cells² pairs. */
  def skyline(points: DataFrame, xCol: String, yCol: String,
      cells: Int = 16): DataFrame = {
    val p = points.withColumn("x", col(xCol)).withColumn("y", col(yCol))
    val bounds = p.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    // integer division (div, not /): buckets must be DISCRETE cells for
    // the occupancy grid — Spark's `/` on longs returns double.
    val b = p.crossJoin(broadcast(bounds))
      .withColumn("bx", expr(s"(x - xmin) * $cells div (xmax - xmin + 1)"))
      .withColumn("by", expr(s"(y - ymin) * $cells div (ymax - ymin + 1)"))
      .drop("xmin", "xmax", "ymin", "ymax")
    val occ = b.select(col("bx"), col("by")).distinct()
    val dominatedCells = occ.as("c").join(broadcast(occ.as("d")),
        col("d.bx") > col("c.bx") && col("d.by") > col("c.by"), "left_semi")
    val survivors = b.join(broadcast(dominatedCells),
        Seq("bx", "by"), "left_anti")
      .drop("bx", "by")
      .localCheckpoint(false)
    survivors.as("p").join(survivors.as("q"),
        col("q.x") >= col("p.x") && col("q.y") >= col("p.y") &&
          (col("q.x") > col("p.x") || col("q.y") > col("p.y")), "left_anti")
      .drop("x", "y")
  }

  import Det.toks

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q124: fixed-point k-means corpus clustering ----
    // Two Lloyd rounds, k = 8, over the embeddings table. Integer
    // arithmetic end-to-end (floor-quantized components, floor-mean
    // centroid updates, exact integer inertia) means DuckDB replays the
    // ENTIRE iterative computation — init, both assignments, the
    // centroid update — and hash-matches bit-for-bit: the q106 recipe
    // applied to clustering. The report is what a mixture-balancing or
    // SemDeDup-cell-sizing pass reads: per-cluster population and
    // inertia.
    "q124_kmeans_fixedpoint" -> QueryDef(
      build = (spark, dir) =>
        kmeansStats(
          Tables.embeddings(spark, dir)
            .select(col("vec_id"), vec64(col("embedding")).as("e")),
          k = 8, iters = 2),
      oracle = Some(s"""$SqlQuantized,
        ${sqlFit("e", "e", "c1 AS (", "d2 AS (")}
        SELECT cid, COUNT(*) AS n_vecs,
               CAST(SUM(d) AS BIGINT) AS inertia,
               MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
        FROM a2 GROUP BY cid ORDER BY cid""")),

    // ---- q253: simplified silhouette of the k-means cells ----
    // The cluster-quality audit read before trusting q124's cells for
    // SemDeDup/IVF sizing (Hruschka's centroid form — the full
    // silhouette is all-pairs and does NOT scale; the centroid form is
    // one broadcast pass): per vector a = own-centroid distance, b =
    // best other-centroid distance, s = (b−a)·1e6 div max(a,b); per-
    // cluster mean/min/max. Same fit, same fixed-point recipe — the
    // oracle replays q124's exact training chain and appends the audit
    // tail, so fit and audit carry one hash certificate.
    "q253_silhouette" -> QueryDef(
      build = (spark, dir) =>
        silhouetteStats(
          Tables.embeddings(spark, dir)
            .select(col("vec_id"), vec64(col("embedding")).as("e")),
          k = 8, iters = 2),
      oracle = Some(s"""$SqlQuantized,
        ${sqlFit("e", "e", "c1 AS (", "d2 AS MATERIALIZED (")},
        b AS (SELECT d2.vec_id, CAST(MIN(d2.d) AS BIGINT) AS b
              FROM d2 JOIN a2 ON a2.vec_id = d2.vec_id
                             AND d2.cid != a2.cid
              GROUP BY 1),
        s AS (SELECT a2.vec_id, a2.cid, a2.d AS a, b.b,
                     CASE WHEN GREATEST(a2.d, b.b) = 0 THEN 0
                          ELSE ((b.b - a2.d) * 1000000)
                               // GREATEST(a2.d, b.b) END AS s_ppm
              FROM a2 JOIN b USING (vec_id))
        SELECT cid, COUNT(*) AS n_vecs,
               CAST(SUM(s_ppm) AS BIGINT) // COUNT(*) AS mean_s_ppm,
               CAST(MIN(s_ppm) AS BIGINT) AS min_s_ppm,
               CAST(MAX(s_ppm) AS BIGINT) AS max_s_ppm
        FROM s GROUP BY cid ORDER BY cid""")),

    // ---- q274: incremental IVF index refresh ----
    // See [[incrementalIvfStats]]. The oracle replays the OLD-half fit
    // (q124's unrolled chain restricted to even vec_ids) and the
    // one-pass NEW-half assignment, then the per-cell maintenance card
    // — so a stale centroid, a refit that sneaked in, or a drift
    // mis-division all hash-mismatch. Third replay of the fixed-point
    // Lloyd chain (q124 fit, q253 audit, now index maintenance).
    "q274_incremental_ivf" -> QueryDef(
      build = (spark, dir) =>
        incrementalIvfStats(
          Tables.embeddings(spark, dir)
            .select(col("vec_id"), vec64(col("embedding")).as("e")),
          k = 8, iters = 2),
      oracle = Some(s"""$SqlQuantized,
        old AS (SELECT * FROM e WHERE vec_id % 2 = 0),
        neu AS (SELECT * FROM e WHERE vec_id % 2 = 1),
        ${sqlFit("old", "o", "c1 AS MATERIALIZED (\n          ", "d2 AS (")},
        dn AS (
          ${sqlDist("nu", "neu nu", "c1")}),
        an AS (${sqlArgmin("vec_id, cid, d", "dn")}),
        go AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_old,
                      CAST(SUM(d) AS BIGINT) AS in_old
               FROM a2 GROUP BY 1),
        gn AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_new,
                      CAST(SUM(d) AS BIGINT) AS in_new
               FROM an GROUP BY 1),
        card AS (
          SELECT COALESCE(go.cid, gn.cid) AS cid,
                 COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
                 COALESCE(in_old, 0) // GREATEST(COALESCE(n_old, 0), 1)
                   AS err_old,
                 COALESCE(in_new, 0) // GREATEST(COALESCE(n_new, 0), 1)
                   AS err_new
          FROM go FULL OUTER JOIN gn ON gn.cid = go.cid)
        SELECT cid, n_old, n_new,
               n_new * 1000000 // GREATEST(n_old, 1) AS growth_ppm,
               err_old, err_new,
               CASE WHEN err_new - err_old >= 0
                    THEN (err_new - err_old) * 1000000
                         // GREATEST(err_old, 1)
                    ELSE -((err_old - err_new) * 1000000
                         // GREATEST(err_old, 1)) END AS drift_ppm,
               CASE WHEN (CASE WHEN err_new - err_old >= 0
                    THEN (err_new - err_old) * 1000000
                         // GREATEST(err_old, 1)
                    ELSE -((err_old - err_new) * 1000000
                         // GREATEST(err_old, 1)) END) > 250000
                    THEN 'reindex' ELSE 'ok' END AS action
        FROM card ORDER BY cid""")),

    // ---- q125: leakage-safe grouped train/val/test split ----
    // The split every supervised pipeline needs and naive row-hash
    // splits get wrong: assignment is a function of the GROUP (source),
    // never the row, so all documents from one source land in one split
    // — near-duplicates within a source can't straddle train and eval.
    // The bucket is md5-derived (engine-portable, seedable by prefixing
    // the key), 80/10/10. `leaked_sources` — sources observed in more
    // than one split — is carried as a self-certifying evidence column
    // and must be 0.
    //
    // 100 TB posture: one scan, one keyed agg; the split decision is a
    // per-row expression (no join against a source directory needed).
    "q125_grouped_split" -> QueryDef(
      build = (spark, dir) => {
        val bucket = conv(substring(
            md5(col("source").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100
        val docs = Tables.documents(spark, dir)
          .withColumn("split",
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test"))
        val leaked = docs.groupBy(col("source"))
          .agg(countDistinct(col("split")).as("nspl"))
          .filter(col("nspl") > 1)
          .agg(count(lit(1)).as("leaked_sources"))
        docs.groupBy(col("split"))
          .agg(countDistinct(col("source")).as("n_sources"),
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars_total"))
          .crossJoin(broadcast(leaked))
          .withColumn("pct_docs", round(col("n_docs").cast("double") /
            sum(col("n_docs")).over(
              org.apache.spark.sql.expressions.Window.partitionBy()), 6))
          .select(col("split"), col("n_sources"), col("n_docs"),
            col("n_chars_total"), col("pct_docs"), col("leaked_sources"))
          .orderBy(col("split"))
      },
      oracle = Some("""
        WITH d AS (
          SELECT *,
                 CASE WHEN CAST(CONCAT('0x', substr(md5(source), 1, 8))
                             AS BIGINT) % 100 < 80 THEN 'train'
                      WHEN CAST(CONCAT('0x', substr(md5(source), 1, 8))
                             AS BIGINT) % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents),
        leaked AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS leaked_sources FROM (
            SELECT source FROM d GROUP BY source
            HAVING COUNT(DISTINCT split) > 1)),
        agg AS (
          SELECT split, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
          FROM d GROUP BY split)
        SELECT split, n_sources, n_docs, n_chars_total,
               ROUND(CAST(n_docs AS DOUBLE)
                     / SUM(n_docs) OVER (), 6) AS pct_docs,
               leaked_sources
        FROM agg CROSS JOIN leaked ORDER BY split""")),

    // ---- q126: skyline (Pareto-optimal document selection) ----
    // "Give me every document no other document beats on BOTH length
    // and lexical diversity" — the selection shape quality-filter
    // tuning actually wants (no weighted scalarization to tune).
    // Criteria are exact integers: token count and floor-scaled
    // distinct-token fraction. The engine runs the grid-pruned plan
    // (see [[skyline]]); the oracle is the brute-force NOT EXISTS
    // dominance test over ALL documents — a hash match certifies the
    // prune lossless.
    "q126_skyline_docs" -> QueryDef(
      build = (spark, dir) => {
        val t = Tables.documents(spark, dir)
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
            expr("size(array_distinct(tk)) * CAST(1000000 AS BIGINT) div size(tk)")
              .as("distinct_scaled"))
          .filter(col("n_tokens") > 0)
        skyline(t, "n_tokens", "distinct_scaled")
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS n_tokens,
                 CAST(len(list_distinct(string_split(trim(text), ' ')))
                        * 1000000 // len(string_split(trim(text), ' '))
                   AS BIGINT) AS distinct_scaled
          FROM documents
          WHERE len(string_split(trim(text), ' ')) > 0)
        SELECT doc_id, n_tokens, distinct_scaled FROM t p
        WHERE NOT EXISTS (
          SELECT 1 FROM t q
          WHERE q.n_tokens >= p.n_tokens
            AND q.distinct_scaled >= p.distinct_scaled
            AND (q.n_tokens > p.n_tokens
                 OR q.distinct_scaled > p.distinct_scaled))
        ORDER BY doc_id""")),

    // ---- q127: sliding-window repeated-substring detection ----
    // The ExactSubstr signal (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better"): fixed-size TOKEN windows at every
    // offset (stride 1), so verbatim reuse is caught at any alignment —
    // the failure mode q89's disjoint chunks have (one inserted token
    // shifts every later chunk boundary). Reports, per document, how
    // much of it is corpus-repeated text: windows whose exact string
    // occurs anywhere else in the corpus (another doc OR another offset
    // of the same doc).
    //
    // 100 TB posture: |tokens| window rows (stride 1 is W× q89's row
    // count — the price of alignment-invariance), each carried as a
    // 16-byte md5; occurrence counting is one high-cardinality keyed
    // agg (near-unique keys → skew-free), per-doc rollup a second.
    // Nothing quadratic; the production form dedups against a window
    // count table incrementally, as q84 does for whole docs.
    "q127_repeated_windows" -> QueryDef(
      build = (spark, dir) => {
        val W = 15
        val t = Tables.spread(Tables.documents(spark, dir))
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"), col("tk"),
            size(col("tk")).cast("long").as("n_tokens"))
          .filter(col("n_tokens") >= W)
        val wins = t.select(col("doc_id"), col("n_tokens"),
          posexplode(transform(sequence(lit(0), (size(col("tk")) - W).cast("int")),
            i => md5(array_join(slice(col("tk"), i + 1, lit(W)), " ")
              .cast("binary")))).as(Seq("off", "sig")))
        val occ = wins.groupBy(col("sig")).agg(count(lit(1)).as("nocc"))
        wins.join(occ, "sig")
          .groupBy(col("doc_id"), col("n_tokens"))
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("nocc") > 1, 1L).otherwise(0L)).as("n_repeated"))
          .withColumn("repeated_frac",
            round(col("n_repeated").cast("double") / col("n_windows"), 6))
          .filter(col("n_repeated") > 0)
          .select(col("doc_id"), col("n_tokens"), col("n_windows"),
            col("n_repeated"), col("repeated_frac"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, string_split(trim(text), ' ') AS tk,
                 CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS n_tokens
          FROM documents
          WHERE len(string_split(trim(text), ' ')) >= 15),
        w AS (
          SELECT doc_id, n_tokens,
                 md5(array_to_string(tk[(i+1):(i+15)], ' ')) AS sig
          FROM (SELECT doc_id, n_tokens, tk,
                       UNNEST(range(0, len(tk) - 15 + 1)) AS i
                FROM t)),
        occ AS (SELECT sig, COUNT(*) AS nocc FROM w GROUP BY sig),
        agg AS (
          SELECT doc_id, n_tokens, COUNT(*) AS n_windows,
                 CAST(SUM(CASE WHEN nocc > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repeated
          FROM w JOIN occ USING (sig)
          GROUP BY doc_id, n_tokens)
        SELECT doc_id, n_tokens, n_windows, n_repeated,
               ROUND(CAST(n_repeated AS DOUBLE) / n_windows, 6)
                 AS repeated_frac
        FROM agg WHERE n_repeated > 0 ORDER BY doc_id""")),

    // ---- q128: positional phrase search over an inverted index ----
    // Exact multi-token phrase occurrence via positional-posting
    // intersection — the retrieval primitive behind phrase queries and
    // "verbatim quote" contamination audits (q71 finds shared long
    // n-grams; this finds EVERY aligned occurrence of GIVEN phrases
    // with their offsets). Phrases: the first 5 tokens of docs 0-2 —
    // corpus-derived, so the query is scale-invariant and each phrase
    // has ≥1 guaranteed self-match at offset 0.
    //
    // The join is the textbook position-algebra form: postings(term,
    // doc, pos) ⋈ phrase terms(term, idx) on term, grouped by (phrase,
    // doc, pos - idx); a group with all |phrase| positions present is
    // an aligned occurrence. At most one posting exists per (doc, pos),
    // so COUNT(*) = |phrase| is exact.
    //
    // 100 TB posture: the phrase side is tiny and broadcast; the
    // postings side never shuffles more than rows matching phrase
    // TERMS (the term equijoin is the pushdown — selective terms prune
    // at the scan in a real inverted store). The candidate agg is keyed
    // on (phrase, doc, start): high-cardinality, skew-free.
    "q128_phrase_search" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val phrases = docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("phrase_id"),
            slice(toks(col("text")), 1, 5).as("terms"))
          .select(col("phrase_id"),
            array_join(col("terms"), " ").as("phrase"), col("terms"))
        val terms = phrases.select(col("phrase_id"), col("phrase"),
          posexplode(col("terms")).as(Seq("idx", "term")))
        val postings = Tables.spread(docs)
          .select(col("doc_id"), posexplode(toks(col("text")))
            .as(Seq("pos", "term")))
        postings.join(broadcast(terms), "term")
          .groupBy(col("phrase_id"), col("phrase"), col("doc_id"),
            (col("pos") - col("idx")).as("start_pos"))
          .agg(count(lit(1)).as("nhit"))
          .filter(col("nhit") === 5 && col("start_pos") >= 0)
          .select(col("phrase_id"), col("phrase"), col("doc_id"),
            col("start_pos").cast("long").as("start_pos"))
          .orderBy(col("phrase_id"), col("doc_id"), col("start_pos"))
      },
      oracle = Some("""
        WITH ph AS (
          SELECT doc_id AS phrase_id,
                 array_to_string(string_split(trim(text), ' ')[1:5], ' ')
                   AS phrase,
                 string_split(trim(text), ' ')[1:5] AS terms
          FROM documents WHERE doc_id < 3),
        pt AS (
          SELECT phrase_id, phrase,
                 UNNEST(terms) AS term,
                 generate_subscripts(terms, 1) - 1 AS idx
          FROM ph),
        po AS (
          SELECT doc_id,
                 UNNEST(string_split(trim(text), ' ')) AS term,
                 generate_subscripts(string_split(trim(text), ' '), 1) - 1
                   AS pos
          FROM documents),
        cand AS (
          SELECT phrase_id, phrase, doc_id, pos - idx AS start_pos,
                 COUNT(*) AS nhit
          FROM po JOIN pt USING (term)
          GROUP BY 1, 2, 3, 4)
        SELECT phrase_id, phrase, doc_id,
               CAST(start_pos AS BIGINT) AS start_pos
        FROM cand WHERE nhit = 5 AND start_pos >= 0
        ORDER BY phrase_id, doc_id, start_pos""")),

    // ---- q294: UCB1 crawl-budget allocation (bandit replay) ----
    // The sequential-decision operator behind "which domain do we crawl
    // NEXT": each language is an arm, each pull reads the arm's next
    // md5-ranked batch and pays out its mean quality (the q291
    // stop-rate score, exact ppm), and UCB1 (Auer '02) balances
    // exploitation against the sqrt(2·ln t / n) exploration bonus.
    // Determinism is the q270 literal discipline taken further: BOTH
    // libm calls (ln t and the sqrt bonus) are precomputed ONCE
    // driver-side for the whole (t ≤ 16) × (n ≤ 16) grid and embedded
    // as integer-ppm literals in BOTH engines' plans — the replayed
    // bandit is pure integer arithmetic end to end (mean = rsum div
    // pulls, argmax tie-broken by lang). The oracle unrolls all 16
    // rounds as generated CTEs (the trainCtes precedent); an
    // off-by-one in the pull count, a stale mean, or a wrong pick
    // ANYWHERE in the sequence cascades into a hash mismatch.
    //
    // 100 TB posture: the corpus-scale work — scoring, per-lang md5
    // ranking, the (lang × 16)-batch rollup — is all keyed engine-side;
    // the bandit itself runs on the collected ≤ |langs|·16-row reward
    // table (the BPE-merge-table precedent: model-sized driver state by
    // the operator's own contract), and the 16-row pick sequence is the
    // output.
    "q294_ucb_crawl_allocation" -> QueryDef(
      build = (spark, dir) => {
        val rounds = Ucb.Rounds
        val rw = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            expr("size(filter(split(trim(text), ' ')," +
              " t -> t = 'the' OR t = 'a'))").cast("long").as("stops"),
            size(split(trim(col("text")), " ")).cast("long")
              .as("n_tokens"))
          .withColumn("score",
            expr("stops * 1000 div greatest(n_tokens, 1L)"))
          .withColumn("pick", md5(concat(lit("q294#"),
            col("doc_id").cast("string"))))
        val wl = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("pick"), col("doc_id"))
        val nl = rw.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
        val batches = rw
          .withColumn("r", row_number().over(wl).cast("long"))
          .join(nl, Seq("lang"))
          .withColumn("k", expr(s"($rounds * (r - 1)) div n_l + 1"))
          .groupBy(col("lang"), col("k"))
          .agg(expr("sum(score) * 1000 div count(1)").as("reward_ppm"))
        // ≤ |langs|·rounds rows — the reward table IS the model here
        val rewards = batches.collect().map(r =>
          (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        val langs = rewards.keys.map(_._1).toSeq.distinct.sorted
        val picks = Ucb.replay(langs, rewards)
        import spark.implicits._
        picks.toDF("t", "lang", "k", "reward_ppm", "ucb_ppm",
          "cum_reward_ppm")
          .orderBy(col("t"))
      },
      oracle = Some(Ucb.oracle)),

    // ---- q332: association rules with exact support/confidence/lift ----
    // The RULE-mining member of the basket family (q105/q106 build the
    // co-purchase GRAPH; nothing emits the directed rules a
    // recommender/curation policy consumes): from order baskets
    // (distinct parts per order), all directed rules u→v with pair
    // support ≥ 3, scored exactly in ppm — confidence = supp(u,v)·10⁶
    // div supp(u), lift = supp(u,v)·N·10⁶ div (supp(u)·supp(v))
    // (lift > 10⁶ ⟺ positive association; products ≤ N·supp² stay
    // under 2⁶³ to ~10⁵ orders/part, DECIMAL-free by domain). Top 20
    // by (lift DESC, conf DESC, u, v) — a total order.
    //
    // 100 TB posture: pair generation is the order-keyed self-join
    // (bounded by basket size, the q106 pattern — never all part
    // pairs); supports are part-keyed aggs; the rule table is
    // pair-cardinality and the top-k is a TakeOrdered heap, no global
    // sort.
    "q332_association_rules" -> QueryDef(
      build = (spark, dir) => {
        val li = Graph.coPurchaseLi(spark, dir).localCheckpoint(false)
        val nOrders = li.select(col("o")).distinct().count()
        val item = li.groupBy(col("p")).agg(count(lit(1)).as("supp"))
        val pairs = li.as("a")
          .join(li.as("b"),
            col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("supp_uv"))
          .filter(col("supp_uv") >= 3)
        pairs
          .join(item.select(col("p").as("u"), col("supp").as("supp_u")),
            Seq("u"))
          .join(item.select(col("p").as("v"), col("supp").as("supp_v")),
            Seq("v"))
          .select(col("u"), col("v"), col("supp_uv"), col("supp_u"),
            col("supp_v"),
            expr("supp_uv * 1000000L div supp_u").as("conf_ppm"),
            expr(s"supp_uv * ${nOrders}L * 1000000L div " +
              "(supp_u * supp_v)").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("conf_ppm").desc,
            col("u"), col("v"))
          .limit(20)
      },
      oracle = Some(s"""
        WITH ${Graph.sqlLi(" MATERIALIZED")},
        nn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM li),
        item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS supp
                 FROM li GROUP BY 1),
        pairs AS (
          SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS supp_uv
          FROM li a JOIN li b ON b.o = a.o AND b.p != a.p
          GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        SELECT p.u, p.v, p.supp_uv,
               iu.supp AS supp_u, iv.supp AS supp_v,
               p.supp_uv * 1000000 // iu.supp AS conf_ppm,
               p.supp_uv * nn.n * 1000000 // (iu.supp * iv.supp)
                 AS lift_ppm
        FROM pairs p
        JOIN item iu ON iu.p = p.u
        JOIN item iv ON iv.p = p.v
        CROSS JOIN nn
        ORDER BY lift_ppm DESC, conf_ppm DESC, u, v
        LIMIT 20"""))
  )
}

/** q294's bandit: the integer-exact UCB1 replay and its generated
  * unrolled oracle. The exploration bonus ⌊√(2·ln t / n)·10⁶⌋ is
  * precomputed here for the full (t, n) grid and embedded as literals
  * in BOTH plans (ln rounded to 9 dp first — the q264 portability
  * recipe — then one IEEE sqrt/mul/floor), so neither engine calls
  * libm at query time. */
private[queries] object Ucb {
  val Rounds = 16
  /** Unplayed arms sort first (effectively infinite UCB), in lang
    * order — the standard "play each arm once" init, made total. */
  val InitUcb = 4000000000L

  lazy val bonusPpm: Map[(Int, Int), Long] = (for {
    t <- 1 to Rounds; n <- 1 to Rounds
  } yield (t, n) -> math.floor(math.sqrt(
    2.0 * (math.rint(math.log(t.toDouble) * 1e9) / 1e9) / n) * 1e6)
    .toLong).toMap

  /** Replay UCB1 over the collected reward table. Returns one row per
    * round: (t, lang, pull index, reward, winning ucb, cum reward). */
  def replay(langs: Seq[String], rewards: Map[(String, Long), Long])
      : Seq[(Long, String, Long, Long, Long, Long)] = {
    val pulls = scala.collection.mutable.Map(langs.map(_ -> 0L): _*)
    val rsum = scala.collection.mutable.Map(langs.map(_ -> 0L): _*)
    var cum = 0L
    (1 to Rounds).map { t =>
      val ucbs = langs.map { l =>
        val n = pulls(l)
        val u =
          if (n == 0L) InitUcb
          else rsum(l) / n + bonusPpm((t, n.toInt))
        (l, u)
      }
      val (lang, u) = ucbs.maxBy { case (l, v) => (v, ReverseLang(l)) }
      val k = pulls(lang) + 1
      val rw = rewards.getOrElse((lang, k), 0L)
      pulls(lang) = k
      rsum(lang) += rw
      cum += rw
      (t.toLong, lang, k, rw, u, cum)
    }
  }
  /** The (ucb, ReverseLang) comparison key is a strict total order —
    * ReverseLang orders langs descending, so the lexicographic max is
    * (ucb desc, lang asc) and ties are impossible; the argmax is
    * well-defined regardless of maxBy's tie behavior (Scala's maxBy
    * keeps the FIRST maximum, but nothing here depends on that). */
  private case class ReverseLang(l: String) extends Ordered[ReverseLang] {
    def compare(that: ReverseLang): Int = that.l.compareTo(l)
  }

  /** The generated 16-round unrolled DuckDB replay. */
  lazy val oracle: String = {
    val bonusRows = (for { t <- 1 to Rounds; n <- 1 to Rounds }
      yield s"($t, $n, ${bonusPpm((t, n))})").mkString(", ")
    val roundCtes = (1 to Rounds).map { t =>
      s"""        u$t AS MATERIALIZED (SELECT s.lang, s.pulls, s.rsum,
                      CASE WHEN s.pulls = 0 THEN $InitUcb
                           ELSE s.rsum // s.pulls
                                + (SELECT b.bonus FROM bonus b
                                   WHERE b.t = $t AND b.n = s.pulls)
                      END AS ucb
               FROM s${t - 1} s),
        p$t AS MATERIALIZED (SELECT lang, ucb FROM u$t
                ORDER BY ucb DESC, lang LIMIT 1),
        o$t AS MATERIALIZED (SELECT CAST($t AS BIGINT) AS t, p.lang,
                       s.pulls + 1 AS k,
                       COALESCE(r.reward_ppm, 0) AS reward_ppm,
                       p.ucb AS ucb_ppm
                FROM p$t p JOIN u$t s ON s.lang = p.lang
                LEFT JOIN rw r ON r.lang = p.lang
                  AND r.k = s.pulls + 1),
        s$t AS MATERIALIZED (SELECT s.lang,
                       s.pulls + CASE WHEN s.lang = o.lang THEN 1
                         ELSE 0 END AS pulls,
                       s.rsum + CASE WHEN s.lang = o.lang
                         THEN o.reward_ppm ELSE 0 END AS rsum
                FROM s${t - 1} s CROSS JOIN o$t o)"""
    }.mkString(",\n")
    s"""
        WITH d AS MATERIALIZED (SELECT doc_id, lang,
                          CAST(len(list_filter(
                            string_split(trim(text), ' '),
                            x -> x = 'the' OR x = 'a')) AS BIGINT)
                            AS stops,
                          CAST(len(string_split(trim(text), ' '))
                            AS BIGINT) AS n_tokens,
                          md5('q294#' || CAST(doc_id AS VARCHAR))
                            AS pick
                   FROM documents),
        sc AS (SELECT doc_id, lang, pick,
                      stops * 1000 // GREATEST(n_tokens, 1) AS score
               FROM d),
        nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
               FROM sc GROUP BY 1),
        rk AS (SELECT sc.*, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY pick, doc_id) AS BIGINT) AS r
               FROM sc),
        rw AS MATERIALIZED (SELECT rk.lang,
                      ($Rounds * (r - 1)) // nl.n_l + 1 AS k,
                      CAST(SUM(score) AS BIGINT) * 1000 // COUNT(*)
                        AS reward_ppm
               FROM rk JOIN nl USING (lang) GROUP BY 1, 2),
        bonus AS MATERIALIZED (SELECT CAST(tt AS BIGINT) AS t, CAST(nn AS BIGINT)
                    AS n, CAST(bb AS BIGINT) AS bonus
                  FROM (VALUES $bonusRows) v(tt, nn, bb)),
        s0 AS MATERIALIZED (SELECT lang, CAST(0 AS BIGINT) AS pulls,
                      CAST(0 AS BIGINT) AS rsum
               FROM nl),
$roundCtes,
        seq AS (${(1 to Rounds).map(t => s"SELECT * FROM o$t")
      .mkString(" UNION ALL ")})
        SELECT t, lang, k, reward_ppm, ucb_ppm,
               CAST(SUM(reward_ppm) OVER (ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum_reward_ppm
        FROM seq ORDER BY t"""
  }
}
