package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Graph analytics over relation-derived graphs.
  *
  * The engine's graph surface so far is connected components (q56's
  * distributed min-label propagation in `operators.MinHashLSH`). This
  * module adds the other classic scale-bound graph kernel: triangle
  * counting, the building block of clustering-coefficient / community
  * metrics and the canonical "will your join strategy survive a
  * power-law graph" test.
  *
  * Scale design — degree-oriented wedge join (the standard MPC/MapReduce
  * triangle algorithm, cf. Suri & Vassilvitskii "Counting Triangles and
  * the Curse of the Last Reducer", WWW'11):
  *
  *  - Each undirected edge is directed from its (degree, id)-smaller
  *    endpoint to the larger. Every triangle then has exactly one vertex
  *    with out-edges to the other two, so wedges (a→b, a→c) + the
  *    closing edge {b,c} count each triangle exactly once — no /3, no /6
  *    double-count corrections.
  *  - Orientation bounds every out-degree by O(√E): a hub's edges all
  *    point INTO it, so the hub generates no wedges. Total wedge work is
  *    Σ out-deg² = O(E^1.5) regardless of skew — the power-law hub that
  *    would explode a naive neighbor self-join ("the curse of the last
  *    reducer") contributes nothing.
  *  - Every step is a keyed equijoin or aggregation: pair generation
  *    fans out C(k,2) per order with k = lines-per-order (bounded ~7),
  *    the wedge join shuffles on the wedge center, the closing-edge
  *    check is a semi-join on the canonical (min,max) pair. No
  *    cartesian, no driver collection, nothing O(V²).
  */
object Graph {

  /** The co-purchase graph's incidence list (q105, q106, q143, q210,
    * q332): the distinct (o, p) = (order, part) pairs of lineitem. */
  private[queries] def coPurchaseLi(spark: SparkSession,
      dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()

  /** DuckDB side of [[coPurchaseLi]]: the `li` CTE, `mat` "" or
    * " MATERIALIZED". */
  private[queries] def sqlLi(mat: String): String =
    s"li AS$mat (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)"

  /** The undirected edges of an incidence list `li` (o, p): (u, v) with
    * u < v for every node pair sharing at least `minSupport` containers. */
  private def incidencePairs(li: DataFrame,
      minSupport: Int): DataFrame =
    li.as("a")
      .join(li.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .select(col("u"), col("v"))

  /** DuckDB side of [[incidencePairs]] over [[coPurchaseLi]]: `li` and
    * `pairs`. */
  private def sqlPairs(minSupport: Int): String = s"""${sqlLi("")},
        pairs AS (SELECT a.p AS u, b.p AS v
                  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
                  GROUP BY a.p, b.p HAVING COUNT(*) >= $minSupport)"""

  /** q106's and q210's graph: the support ≥ 2 co-purchase pairs as
    * symmetrized `edges` (u, v) and their `deg` (node, d). */
  private def frequentGraph(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val pairs = incidencePairs(coPurchaseLi(spark, dir), 2)
    val edges = pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
    (edges, edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("d")))
  }

  /** DuckDB side of [[frequentGraph]]: [[sqlPairs]] at support 2 plus
    * `edges` and `deg`. */
  private def sqlFrequentGraph: String = s"""${sqlPairs(2)},
        edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
        deg AS (SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY u)"""

  /** Per-node triangle participation over a hyperedge incidence list.
    *
    * @param li two columns `o` (hyperedge/container id) and `p` (node id):
    *           nodes sharing a container get an undirected edge.
    * @return one row per node in ≥1 triangle: (node, tri_count, d).
    */
  def triangleParticipation(li: DataFrame): DataFrame = {
    val pairs = incidencePairs(li, 1)
    val deg = pairs.select(col("u").as("node"))
      .unionAll(pairs.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // orient each edge from the (degree, id)-smaller endpoint
    val oriented = pairs
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("t"))
    val wedge = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val tri = wedge.join(pairs,
      pairs("u") === least(col("b"), col("c")) &&
        pairs("v") === greatest(col("b"), col("c")), "left_semi")
    val partTri = tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
    partTri.join(deg, "node")
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q105: triangle participation in the co-purchase graph ----
    // Nodes = parts; undirected edge {u,v} iff some order contains both.
    // Output: the 20 parts in the most triangles (mutually co-purchased
    // triples), with their graph degree. All-integer => exact oracle
    // parity; tri_count DESC, partkey ASC is a total order.
    "q105_triangle_count" -> QueryDef(
      build = (spark, dir) => {
        triangleParticipation(coPurchaseLi(spark, dir))
          .select(col("node").as("partkey"), col("tri_count"),
            col("d").as("degree"))
          .orderBy(col("tri_count").desc, col("partkey").asc)
          .limit(20)
      },
      oracle = Some(s"""
        WITH ${sqlPairs(1)},
        deg AS (
          SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)
          GROUP BY node),
        oriented AS (
          SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS s,
                 CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS t
          FROM pairs p JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v),
        wedge AS (
          SELECT e1.s AS a, e1.t AS b, e2.t AS c
          FROM oriented e1 JOIN oriented e2 ON e1.s = e2.s AND e1.t < e2.t),
        tri AS (
          SELECT a, b, c FROM wedge w
          WHERE EXISTS (SELECT 1 FROM pairs p
                        WHERE p.u = LEAST(w.b, w.c) AND p.v = GREATEST(w.b, w.c))),
        part_tri AS (
          SELECT node, COUNT(*) AS tri_count FROM (
            SELECT a AS node FROM tri UNION ALL
            SELECT b AS node FROM tri UNION ALL
            SELECT c AS node FROM tri) GROUP BY node)
        SELECT pt.node AS partkey, pt.tri_count, d.d AS degree
        FROM part_tri pt JOIN deg d ON d.node = pt.node
        ORDER BY pt.tri_count DESC, partkey ASC LIMIT 20""")),

    // ---- q106: fixed-point PageRank on the frequent-co-purchase graph ----
    // Five damped PageRank iterations (d = 0.85) over the support>=2
    // co-purchase graph, in SCALED-INTEGER arithmetic: ranks live as
    // BIGINT in units of 1e-12 and every division is integer division.
    // That is the determinism trick reproducible pipelines actually use —
    // float PageRank is partition-order dependent (non-associative double
    // sums), so two runs of the same job can disagree in the last ulps;
    // fixed-point ranks are bit-identical on any engine, any partitioning,
    // which is what lets DuckDB hash-match a 5-iteration iterative Spark
    // job exactly. (No dangling-node term: the graph is undirected, so
    // every node has out-degree >= 1.)
    //
    // 100 TB posture: each iteration is one keyed equijoin
    // (edges ⋈ ranks on the source node) + one partial/final aggregation
    // on the destination — rank state never leaves the cluster, the
    // scalar (n, base) constants ride a broadcast 1-row cross join, and
    // iteration count is fixed, so lineage depth is bounded. The same
    // loop at 100 TB would add localCheckpoint every ~10 rounds.
    "q106_pagerank_fixedpoint" -> QueryDef(
      build = (spark, dir) => {
        val SCALE = 1000000000000L
        val (edges, deg) = frequentGraph(spark, dir)
        val consts = deg.agg(count(lit(1)).as("n"))
          .select(col("n"),
            expr(s"$SCALE div n").as("r0rank"),
            expr(s"(15 * ($SCALE div n)) div 100").as("base"))
        var rank = deg.crossJoin(broadcast(consts))
          .select(col("node"), col("r0rank").as("rank"))
        for (_ <- 1 to 5) {
          rank = edges
            .join(rank, edges("u") === rank("node"))
            .join(deg.select(col("node").as("dn"), col("d")), col("u") === col("dn"))
            .groupBy(col("v").as("dst"))
            .agg(sum(expr("rank div d")).as("contrib"))
            .crossJoin(broadcast(consts))
            .select(col("dst").as("node"),
              (col("base") + expr("(85 * contrib) div 100")).as("rank"))
        }
        rank.join(deg, "node")
          .select(col("node").as("partkey"), col("rank").as("rank_fp"),
            col("d").as("degree"))
          .orderBy(col("rank_fp").desc, col("partkey").asc)
          .limit(20)
      },
      oracle = Some {
        // CAST back to BIGINT each layer: DuckDB SUM(BIGINT) -> HUGEINT
        // and the driver compare is dtype-strict.
        def layer(k: Int) = s"""
        r$k AS (
          SELECT e.v AS node,
                 CAST((SELECT base FROM consts)
                   + (85 * SUM(r.rank // d.d)) // 100 AS BIGINT) AS rank
          FROM edges e
          JOIN r${k - 1} r ON r.node = e.u
          JOIN deg d ON d.node = e.u
          GROUP BY e.v)"""
        s"""
        WITH $sqlFrequentGraph,
        consts AS (
          SELECT COUNT(*) AS n,
                 CAST(1000000000000 // COUNT(*) AS BIGINT) AS r0rank,
                 CAST((15 * (1000000000000 // COUNT(*))) // 100 AS BIGINT) AS base
          FROM deg),
        r0 AS (SELECT node, (SELECT r0rank FROM consts) AS rank FROM deg),""" +
          (1 to 5).map(layer).mkString(",") + """
        SELECT r5.node AS partkey, r5.rank AS rank_fp, deg.d AS degree
        FROM r5 JOIN deg ON deg.node = r5.node
        ORDER BY rank_fp DESC, partkey ASC LIMIT 20"""
      }),

    // ---- q143: k-core peeling (3 rounds, k = 100) ----
    // Iterative degeneracy peeling over the co-purchase graph: each
    // round drops nodes with degree < k, then edges touching a dropped
    // node — the dense-subgraph extractor behind community seeds and
    // spam-cluster mining. Like q106, the iteration count is FIXED so
    // the whole computation unrolls into relational algebra both
    // engines run verbatim (a convergence loop is the same plan with a
    // data-dependent round count); per-round survivor/edge counts make
    // the cascade itself the gated output.
    //
    // 100 TB posture: each round is one degree aggregation (keyed
    // partial agg) + two semi-joins on the endpoint — all hash-
    // partitioned on the node key, no broadcast of anything
    // graph-sized, nothing quadratic; rounds chain through
    // localCheckpoint-free lazy plans (3 rounds ⇒ depth is bounded).
    "q143_kcore_peeling" -> QueryDef(
      build = (spark, dir) => {
        val k = 100
        val pairs = incidencePairs(coPurchaseLi(spark, dir), 1)
        // deliberately NO checkpoint: the six count actions share
        // lineage, and Spark's shuffle-output reuse already skips the
        // recomputation a checkpoint would buy (measured at sf0.1:
        // lazy 15.2 s vs 21.4 s base-checkpoint vs 26.8 s per-round
        // eager — materialization copies cost more than they save at
        // 3 rounds; a convergence-length loop WOULD checkpoint, as
        // q56's label propagation does)
        var edges = pairs
        val rounds = (1 to 3).map { r =>
          val deg = edges.select(col("u").as("n"))
            .unionAll(edges.select(col("v").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("d"))
          val surv = deg.filter(col("d") >= k).select(col("n"))
          edges = edges
            .join(surv.select(col("n").as("u")), Seq("u"), "left_semi")
            .join(surv.select(col("n").as("v")), Seq("v"), "left_semi")
          surv.agg(count(lit(1)).as("n_nodes"))
            .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
            .select(lit(r.toLong).as("peel_round"), col("n_nodes"), col("n_edges"))
        }
        rounds.reduce(_ unionAll _).orderBy(col("peel_round"))
      },
      oracle = Some {
        def layer(r: Int) = s"""
        d$r AS (SELECT n, COUNT(*) AS d FROM (
                  SELECT u AS n FROM e${r - 1}
                  UNION ALL SELECT v FROM e${r - 1}) GROUP BY n),
        s$r AS (SELECT n FROM d$r WHERE d >= 100),
        e$r AS (SELECT u, v FROM e${r - 1}
                WHERE u IN (SELECT n FROM s$r)
                  AND v IN (SELECT n FROM s$r))"""
        s"""
        WITH ${sqlPairs(1)},
        e0 AS (SELECT u, v FROM pairs),""" +
          (1 to 3).map(layer).mkString(",") + """
        SELECT CAST(1 AS BIGINT) AS peel_round,
               CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS n_edges
        UNION ALL SELECT CAST(2 AS BIGINT), CAST((SELECT COUNT(*) FROM s2) AS BIGINT),
               CAST((SELECT COUNT(*) FROM e2) AS BIGINT)
        UNION ALL SELECT CAST(3 AS BIGINT), CAST((SELECT COUNT(*) FROM s3) AS BIGINT),
               CAST((SELECT COUNT(*) FROM e3) AS BIGINT)
        ORDER BY peel_round"""
      }),

    // ---- q164: degree-capped co-supply projection ----
    // Bipartite projection supplier→supplier through shared parts: the
    // co-occurrence graph build every recommender/affinity pipeline
    // starts from. The scale hazard is the hot right-node: a part
    // supplied by d suppliers emits d² pairs, so a single viral node
    // quadratically floods the projection. The cap (parts with ≤ 32
    // suppliers; the df-cap trick from text co-occurrence) bounds
    // per-part fan-out at a constant, making the projection linear in
    // |edges| — and the dropped hot parts are REPORTED (n_parts_capped
    // in every row) rather than silently vanishing. Top 20 pairs by
    // shared-part count, full tie-break on ids.
    "q164_cosupply_projection" -> QueryDef(
      build = (spark, dir) => {
        val ps = Tables.lineitem(spark, dir)
          .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
          .distinct()
        val deg = ps.groupBy(col("p")).agg(count(lit(1)).as("d"))
        val capped = deg.agg(
          count(when(col("d") > 32, 1)).as("n_parts_capped"))
        val kept = ps.join(deg.filter(col("d") <= 32).select(col("p")),
          Seq("p"), "left_semi")
        kept.select(col("p"), col("s").as("s_a"))
          .join(kept.select(col("p"), col("s").as("s_b")), Seq("p"))
          .filter(col("s_a") < col("s_b"))
          .groupBy(col("s_a"), col("s_b"))
          .agg(count(lit(1)).as("shared_parts"))
          .crossJoin(broadcast(capped))
          .orderBy(col("shared_parts").desc, col("s_a"), col("s_b"))
          .limit(20)
      },
      oracle = Some("""
        WITH ps AS (
          SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        deg AS (SELECT p, COUNT(*) AS d FROM ps GROUP BY p),
        capped AS (
          SELECT COUNT(CASE WHEN d > 32 THEN 1 END) AS n_parts_capped
          FROM deg),
        kept AS (
          SELECT ps.p, ps.s FROM ps SEMI JOIN
            (SELECT p FROM deg WHERE d <= 32) k USING (p))
        SELECT a.s AS s_a, b.s AS s_b, COUNT(*) AS shared_parts,
               (SELECT n_parts_capped FROM capped) AS n_parts_capped
        FROM kept a JOIN kept b ON a.p = b.p AND a.s < b.s
        GROUP BY 1, 2
        ORDER BY shared_parts DESC, s_a, s_b LIMIT 20""")),

    // ---- q209: HITS hubs & authorities on the supplier→part graph ----
    // The OTHER classic link-analysis fixed point (Kleinberg 1999),
    // genuinely different from q106's PageRank: two mutually-recursive
    // scores on a DIRECTED bipartite graph — authority(part) = Σ
    // hub(supplier) over its suppliers, hub(supplier) = Σ
    // authority(part) over its parts. Three iterations in q106's
    // scaled-integer discipline (scores in 1e-9 units), with per-round
    // MAX-normalization (a·SCALE div max — integer division against the
    // broadcast 1-row max, the fixed-point substitute for the usual L2
    // norm, whose sqrt would re-introduce FP): bit-identical on any
    // engine and partitioning, which is what lets DuckDB hash-match a
    // 6-join iterative job.
    //
    // 100 TB posture: per iteration, one keyed equijoin + partial/final
    // agg per side; the normalizing max is a 1-row broadcast. Fixed
    // iteration count bounds lineage (localCheckpoint every ~10 rounds
    // at real scale, as q106 documents).
    "q209_hits_fixedpoint" -> QueryDef(
      build = (spark, dir) => {
        val SCALE = 1000000000L
        val edges = Tables.lineitem(spark, dir)
          .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
          .distinct()
        var hub = edges.select(col("s")).distinct()
          .select(col("s"), lit(SCALE).as("h"))
        var auth: org.apache.spark.sql.DataFrame = null
        for (_ <- 1 to 3) {
          // localCheckpoint per round: each raw-score table feeds BOTH
          // its normalizing max and the normalized output — without the
          // cut, the shared subtree is duplicated per use and the
          // iterative lineage recomputes upstream rounds exponentially
          // (the plan audit counted 31 nested-loop nodes before this)
          val araw = edges.join(hub, "s")
            .groupBy(col("p")).agg(sum(col("h")).as("araw"))
            .localCheckpoint()
          val amax = araw.agg(max(col("araw")).as("amax"))
          auth = araw.crossJoin(broadcast(amax))
            .select(col("p"),
              expr(s"CAST(CAST(araw AS DECIMAL(38,0)) * $SCALE div amax AS BIGINT)")
                .as("a"))
          val hraw = edges.join(auth, "p")
            .groupBy(col("s")).agg(sum(col("a")).as("hraw"))
            .localCheckpoint()
          val hmax = hraw.agg(max(col("hraw")).as("hmax"))
          hub = hraw.crossJoin(broadcast(hmax))
            .select(col("s"),
              expr(s"CAST(CAST(hraw AS DECIMAL(38,0)) * $SCALE div hmax AS BIGINT)")
                .as("h"))
        }
        val indeg = edges.groupBy(col("p")).agg(count(lit(1)).as("n_suppliers"))
        auth.join(indeg, "p")
          .select(col("p").as("partkey"), col("a").as("authority_fp"),
            col("n_suppliers"))
          .orderBy(col("authority_fp").desc, col("partkey").asc)
          .limit(20)
      },
      oracle = Some {
        def layer(k: Int): String = s"""
        ar$k AS (SELECT e.p, CAST(SUM(h.h) AS BIGINT) AS araw
                 FROM edges e JOIN h${k - 1} h ON h.s = e.s GROUP BY e.p),
        a$k AS (SELECT p, CAST(CAST(araw AS HUGEINT) * 1000000000
                   // (SELECT MAX(araw) FROM ar$k) AS BIGINT) AS a
                FROM ar$k),
        hr$k AS (SELECT e.s, CAST(SUM(a.a) AS BIGINT) AS hraw
                 FROM edges e JOIN a$k a ON a.p = e.p GROUP BY e.s),
        h$k AS (SELECT s, CAST(CAST(hraw AS HUGEINT) * 1000000000
                   // (SELECT MAX(hraw) FROM hr$k) AS BIGINT) AS h
                FROM hr$k)"""
        """
        WITH edges AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
                       FROM lineitem),
        h0 AS (SELECT DISTINCT s, CAST(1000000000 AS BIGINT) AS h
               FROM edges),""" +
          (1 to 3).map(layer).mkString(",") + """,
        indeg AS (SELECT p, COUNT(*) AS n_suppliers FROM edges GROUP BY p)
        SELECT a3.p AS partkey, a3.a AS authority_fp, indeg.n_suppliers
        FROM a3 JOIN indeg ON indeg.p = a3.p
        ORDER BY authority_fp DESC, partkey ASC LIMIT 20"""
      }),

    // ---- q210: degree assortativity of the co-purchase graph ----
    // Newman's degree-correlation coefficient — do hubs connect to hubs
    // (assortative, r > 0) or to leaves (disassortative, r < 0)? The
    // network-structure scalar that q105 (triangles), q143 (k-core) and
    // q106/q209 (centrality) don't capture. Pearson correlation of
    // endpoint degrees over the symmetrized edge list: all six moment
    // sums are EXACT integers (decimal-accumulated), then ONE mirrored
    // double formula rounded once at 6 dp — the q135 grouped-OLS
    // recipe. (Integer→double casts are exact below 2^53; at 100 TB
    // edge counts, rescale degrees before the final formula.)
    //
    // 100 TB posture: the degree table joins back to edges by node key
    // (two keyed equijoins on a by-construction-deduplicated edge
    // list); the moment reduction is one partial/final agg to one row.
    "q210_degree_assortativity" -> QueryDef(
      build = (spark, dir) => {
        val (edges, deg) = frequentGraph(spark, dir)
        val dd = DecimalType(38, 0)
        val m = edges
          .join(deg.select(col("node").as("u"), col("d").as("x")), Seq("u"))
          .join(deg.select(col("node").as("v"), col("d").as("y")), Seq("v"))
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast(dd)).as("sx"),
            sum(col("y").cast(dd)).as("sy"),
            sum((col("x") * col("y")).cast(dd)).as("sxy"),
            sum((col("x") * col("x")).cast(dd)).as("sx2"),
            sum((col("y") * col("y")).cast(dd)).as("sy2"))
        m.select(col("n").as("n_edges"),
          round(
            ((col("n").cast(dd) * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType))
              / sqrt((col("n").cast(dd) * col("sx2") - col("sx") * col("sx"))
                .cast(DoubleType)
                * (col("n").cast(dd) * col("sy2") - col("sy") * col("sy"))
                  .cast(DoubleType)), 6)
            .as("assortativity"))
      },
      oracle = Some(s"""
        WITH $sqlFrequentGraph,
        m AS (SELECT COUNT(*) AS n,
                     SUM(CAST(dx.d AS HUGEINT)) AS sx,
                     SUM(CAST(dy.d AS HUGEINT)) AS sy,
                     SUM(CAST(dx.d * dy.d AS HUGEINT)) AS sxy,
                     SUM(CAST(dx.d * dx.d AS HUGEINT)) AS sx2,
                     SUM(CAST(dy.d * dy.d AS HUGEINT)) AS sy2
              FROM edges e
              JOIN deg dx ON dx.node = e.u
              JOIN deg dy ON dy.node = e.v)
        SELECT CAST(n AS BIGINT) AS n_edges,
               ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(CAST(n AS HUGEINT) * sx2 - sx * sx AS DOUBLE)
                            * CAST(CAST(n AS HUGEINT) * sy2 - sy * sy
                              AS DOUBLE)), 6) AS assortativity
        FROM m"""))
  )
}
