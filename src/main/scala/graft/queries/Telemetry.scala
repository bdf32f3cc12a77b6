package graft.queries

import graft.sources.GpsGenerator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Spatial telemetry analytics over the reference's GPS domain
  * (producer fleet fixes — the same deterministic batch q70 enriches):
  * grid-bucketed proximity joins (q129) and trip segmentation with
  * geodesic path accumulation (q130).
  *
  * Both oracles read the `_q70_input` parquet the Verify harness
  * materializes (the [[Gps.VerifyOutToken]] mechanism), so DuckDB sees
  * the exact same fixes.
  *
  * Determinism contract for the geodesic column: latitude/longitude are
  * generated with exactly 6 decimal places, so the scaled-microdegree
  * copies are exact integers and every FILTER decision is integer
  * arithmetic — engine-portable by construction. The haversine
  * distance itself is descriptive output only (never a predicate),
  * computed with the identical left-associated expression tree in both
  * engines and rounded; a sub-ulp libm difference would need the true
  * value within ~1e-12 of a rounding boundary to surface, checked
  * empirically at both gate SFs.
  */
object Telemetry {

  /** Proximity radius: 0.1° in microdegrees (~11.1 km of latitude). */
  private val RadiusU = 100000L

  /** Haversine great-circle km. The expression tree (association order,
    * literal placement) mirrors the oracle SQL token-for-token so both
    * engines run the identical IEEE op sequence. */
  private def havKm(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val rlat1 = radians(lat1); val rlat2 = radians(lat2)
    val sLat = sin((rlat2 - rlat1) / 2)
    val sLon = sin((radians(lon2) - radians(lon1)) / 2)
    lit(2 * 6371.0088) *
      asin(sqrt(sLat * sLat + cos(rlat1) * cos(rlat2) * sLon * sLon))
  }

  /** All unordered fix pairs within `radiusU` microdegrees (planar
    * metric on the 6-dp scaled integers — exact in any engine; the
    * production geodesic form swaps the cell function for geohash with
    * antimeridian wrap, same join shape).
    *
    * Grid candidate join: each probe row replicates into its 3×3 cell
    * neighborhood and equijoins build rows on the cell key — a pair
    * within r is always in same-or-adjacent cells (|Δ| ≤ r ⇒ cell
    * indices differ ≤ 1 under any monotone integral division), and each
    * pair is produced exactly once (the build row sits in exactly one
    * of the probe's nine cells; `ts_a < ts_b` kills the mirror).
    *
    * 100 TB posture: candidates shuffle on the cell key (skew-free for
    * near-uniform spatial data; a hot cell — a depot — gets the q121
    * salt treatment), the exact integer distance filter runs before any
    * trig, and the all-pairs explosion never materializes: cost is
    * Σ_cell |probe∩9-neighborhood|·|build∩cell|, linear for bounded
    * density. The oracle is the 1-D latitude-band BRUTE-FORCE dual
    * (three hash joins, no 2-D cells) — the hash match certifies the
    * grid lossless, q113/q117's proof shape. */
  def proximityPairs(fixes: DataFrame, radiusU: Long = RadiusU): DataFrame = {
    val g = fixes.select(
      col("timestamp").as("ts"), col("vehicle_id"),
      round(col("latitude") * 1000000).cast(LongType).as("lat_u"),
      round(col("longitude") * 1000000).cast(LongType).as("lon_u"),
      col("latitude"), col("longitude"))
      .withColumn("cx", expr(s"lat_u div $radiusU"))
      .withColumn("cy", expr(s"lon_u div $radiusU"))
    val offs = array((for { dx <- -1 to 1; dy <- -1 to 1 }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probe = g.withColumn("o", explode(offs))
      .select(col("ts").as("ts_a"), col("vehicle_id").as("vehicle_a"),
        col("lat_u").as("alat"), col("lon_u").as("alon"),
        col("latitude").as("alatd"), col("longitude").as("alond"),
        (col("cx") + col("o.dx")).as("jx"), (col("cy") + col("o.dy")).as("jy"))
    val build = g.select(col("ts").as("ts_b"), col("vehicle_id").as("vehicle_b"),
      col("lat_u").as("blat"), col("lon_u").as("blon"),
      col("latitude").as("blatd"), col("longitude").as("blond"),
      col("cx"), col("cy"))
    val d2 = (col("alat") - col("blat")) * (col("alat") - col("blat")) +
      (col("alon") - col("blon")) * (col("alon") - col("blon"))
    probe.join(build,
        col("jx") === col("cx") && col("jy") === col("cy") &&
          col("ts_a") < col("ts_b"))
      .filter(d2 <= radiusU * radiusU)
      .select(col("ts_a"), col("ts_b"), col("vehicle_a"), col("vehicle_b"),
        d2.as("dist2_u"),
        round(havKm(col("alatd"), col("alond"), col("blatd"), col("blond")), 3)
          .as("dist_km"))
      .orderBy(col("ts_a"), col("ts_b"))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q129: grid-bucketed spatial proximity self-join ----
    // "Which fixes were within ~11 km of each other?" — the spatial
    // primitive behind convoy detection, depot discovery, and
    // co-location audits. See [[proximityPairs]] for the lossless-grid
    // argument; the oracle reproduces every pair by latitude-band brute
    // force and the hash match certifies the 2-D grid drops nothing.
    "q129_spatial_proximity_join" -> QueryDef(
      build = (spark, dir) =>
        proximityPairs(GpsGenerator.batch(spark, Gps.inputRows(dir))),
      oracle = Some(s"""
        WITH g AS (
          SELECT "timestamp" AS ts, vehicle_id,
                 CAST(round(latitude * 1000000) AS BIGINT) AS lat_u,
                 CAST(round(longitude * 1000000) AS BIGINT) AS lon_u,
                 radians(latitude) AS rlat, radians(longitude) AS rlon
          FROM ${VerifyInputs.staged("_q70_input")}),
        gb AS (SELECT *, lat_u // 100000 AS band FROM g),
        cand AS (
          SELECT a.ts ats, b.ts bts, a.vehicle_id av, b.vehicle_id bv,
                 a.lat_u alat, a.lon_u alon, b.lat_u blat, b.lon_u blon,
                 a.rlat arlat, b.rlat brlat, a.rlon arlon, b.rlon brlon
          FROM gb a JOIN gb b ON b.band = a.band - 1 AND a.ts < b.ts
          UNION ALL
          SELECT a.ts, b.ts, a.vehicle_id, b.vehicle_id,
                 a.lat_u, a.lon_u, b.lat_u, b.lon_u,
                 a.rlat, b.rlat, a.rlon, b.rlon
          FROM gb a JOIN gb b ON b.band = a.band AND a.ts < b.ts
          UNION ALL
          SELECT a.ts, b.ts, a.vehicle_id, b.vehicle_id,
                 a.lat_u, a.lon_u, b.lat_u, b.lon_u,
                 a.rlat, b.rlat, a.rlon, b.rlon
          FROM gb a JOIN gb b ON b.band = a.band + 1 AND a.ts < b.ts)
        SELECT ats AS ts_a, bts AS ts_b, av AS vehicle_a, bv AS vehicle_b,
               (alat-blat)*(alat-blat) + (alon-blon)*(alon-blon) AS dist2_u,
               ROUND(2 * 6371.0088 * asin(sqrt(
                 sin((brlat-arlat)/2)*sin((brlat-arlat)/2)
                 + cos(arlat)*cos(brlat)*sin((brlon-arlon)/2)*sin((brlon-arlon)/2))), 3)
                 AS dist_km
        FROM cand
        WHERE (alat-blat)*(alat-blat) + (alon-blon)*(alon-blon)
                <= ${RadiusU * RadiusU}
        ORDER BY ts_a, ts_b""")),

    // ---- q130: trip segmentation + geodesic path accumulation ----
    // Split each vehicle's fix stream into trips at >60 s silence, then
    // per-trip stats: fix count, great-circle path length (haversine
    // legs rounded to 4 dp — 0.1 m — then EXACT decimal accumulation,
    // the Det.dsum recipe, so the double-valued sum is engine-
    // identical), and the q70 integer-cents exact speed average. The
    // telemetry dual of q32's event sessionization.
    //
    // 100 TB posture: every window shares PARTITION BY vehicle_id — the
    // whole query is ONE entity-key shuffle plus per-key sorts (the
    // q96 SCD-2 shape); trips never cross vehicles so no global pass
    // exists anywhere.
    "q130_trip_segmentation" -> QueryDef(
      build = (spark, dir) => {
        val w = Window.partitionBy(col("vehicle_id")).orderBy(col("sec"))
        val wt = Window.partitionBy(col("vehicle_id"), col("trip_seq"))
          .orderBy(col("sec"))
        GpsGenerator.batch(spark, Gps.inputRows(dir))
          .select(col("vehicle_id"), col("timestamp").as("ts"),
            unix_timestamp(col("timestamp")).as("sec"),
            col("latitude"), col("longitude"), col("speed_kmh"))
          .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
          .withColumn("new_trip",
            when(col("gap").isNull || col("gap") > 60L, 1L).otherwise(0L))
          .withColumn("trip_seq", sum(col("new_trip"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("plat", lag(col("latitude"), 1).over(wt))
          .withColumn("plon", lag(col("longitude"), 1).over(wt))
          .withColumn("leg", when(col("plat").isNull, lit(0.0))
            .otherwise(round(
              havKm(col("plat"), col("plon"), col("latitude"), col("longitude")),
              4)))
          .groupBy(col("vehicle_id"), col("trip_seq"))
          .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
            count(lit(1)).as("n_fixes"),
            sum(col("leg").cast(DecimalType(28, 4))).cast(DoubleType)
              .as("path_km"),
            // integer micro-km/h: the round(double,6) form differed from
            // DuckDB by 1 ulp on 2 of 27,655 sf0.1 trips whose exact
            // cents/n quotient hit a half-microunit (Spark HALF_UP on the
            // exact decimal vs DuckDB's float rounding); integer division
            // has no boundary
            expr("(sum(cast(round(speed_kmh * 100) as bigint)) * 10000) " +
              "div count(speed_kmh)").as("avg_speed_ukmh"))
          .orderBy(col("vehicle_id"), col("trip_seq"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT vehicle_id, "timestamp" AS ts,
                 epoch(CAST("timestamp" AS TIMESTAMP)) AS sec,
                 latitude, longitude, speed_kmh
          FROM ${VerifyInputs.staged("_q70_input")}),
        f AS (
          SELECT *, CASE WHEN lag(sec) OVER w IS NULL
                           OR sec - lag(sec) OVER w > 60
                         THEN 1 ELSE 0 END AS new_trip
          FROM g WINDOW w AS (PARTITION BY vehicle_id ORDER BY sec)),
        t AS (
          SELECT *, SUM(new_trip) OVER (PARTITION BY vehicle_id ORDER BY sec
                      ROWS UNBOUNDED PRECEDING) AS trip_seq
          FROM f),
        l AS (
          SELECT *, lag(latitude) OVER wt AS plat,
                    lag(longitude) OVER wt AS plon
          FROM t WINDOW wt AS (PARTITION BY vehicle_id, trip_seq
                               ORDER BY sec)),
        legs AS (
          SELECT *, CASE WHEN plat IS NULL THEN 0.0 ELSE
            round(2 * 6371.0088 * asin(sqrt(
              sin((radians(latitude)-radians(plat))/2)
                * sin((radians(latitude)-radians(plat))/2)
              + cos(radians(plat))*cos(radians(latitude))
                * sin((radians(longitude)-radians(plon))/2)
                * sin((radians(longitude)-radians(plon))/2))), 4) END AS leg
          FROM l)
        SELECT vehicle_id, CAST(trip_seq AS BIGINT) AS trip_seq,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts,
               CAST(COUNT(*) AS BIGINT) AS n_fixes,
               CAST(SUM(CAST(leg AS DECIMAL(28,4))) AS DOUBLE) AS path_km,
               CAST(SUM(CAST(ROUND(speed_kmh * 100) AS BIGINT)) AS BIGINT)
                 * 10000 // COUNT(speed_kmh) AS avg_speed_ukmh
        FROM legs GROUP BY vehicle_id, trip_seq
        ORDER BY vehicle_id, trip_seq""")),

    // ---- q343: grid-density hotspot clustering (DBSCAN-core on cells) ----
    // Depot/congestion discovery — the density-based cluster op beside
    // q129's pairwise proximity join: fixes land in 2°×2° grid cells
    // (SHIFTED to nonnegative before the div — Spark `div` truncates
    // while DuckDB `//` floors, so negative coordinates would split
    // cells differently per engine), HOT cells are the density tail
    // (count ≥ 8 AND count·C ≥ 4·N — the 4×-mean rule cross-multiplied
    // so it is scale-free AND exact-integer), and hot cells cluster by
    // 4 unrolled rounds of 3×3-neighborhood min-label (the q325/q265
    // relational CC recipe; self included, so no separate least).
    // Plant-then-detect: 2% extra fixes at 5 depot centers with ±1.5°
    // md5 jitter — the oracle REGENERATES the plants from the same
    // integer arithmetic over range(), so nothing extra is staged; the
    // uniform base fleet contributes no hot cells at the 4×-mean bar,
    // and each depot's 3×3 spill folds into exactly one cluster
    // (every hot patch cell is adjacent to the certainly-hot center).
    // Measured sf0.1: exactly 5 clusters, 5 cells each (the plus-shaped
    // patch: ±1.5° jitter puts 2/3 of each axis in the center cell, so
    // corners miss the bar), converged (changed_last_round = 0).
    //
    // 100 TB posture: one cell-keyed count agg over the corpus; the
    // hot set is tail-sized, so propagation rounds and the rollup run
    // on kilobytes; no pairwise stage anywhere (contrast q129, which
    // pays candidate pairs for exact distances).
    "q343_grid_hotspots" -> QueryDef(
      build = (spark, dir) => {
        val n = Gps.inputRows(dir)
        val m = n / 50
        val base = GpsGenerator.batch(spark, n).select(
          (round(col("latitude") * 1000000).cast(LongType)
            + 90000000L).as("slat"),
          (round(col("longitude") * 1000000).cast(LongType)
            + 180000000L).as("slon"))
        def jit(salt: String) =
          s"(CAST(conv(substring(md5(concat('$salt', " +
            s"CAST(id AS STRING))), 1, 12), 16, 10) AS BIGINT)" +
            s" % 3000001 - 1500000)"
        val plants = spark.range(m).select(
          expr(s"(10 + 15 * (id % 5)) * 2000000 + 1000000 + ${jit("q343x#")}")
            .as("slat"),
          expr(s"(20 + 30 * (id % 5)) * 2000000 + 1000000 + ${jit("q343y#")}")
            .as("slon"))
        val cells = base.unionAll(plants)
          .select(expr("slat div 2000000").as("cx"),
            expr("slon div 2000000").as("cy"))
          .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false)
        val st = cells.agg(count(lit(1)).as("n_cells_nonempty"),
          sum(col("cnt")).as("n_fix"))
        val hot = cells.crossJoin(broadcast(st))
          .filter(col("cnt") >= 8L &&
            col("cnt") * col("n_cells_nonempty") >= col("n_fix") * 4L)
          .select(col("cx"), col("cy"), col("cnt"),
            (col("cx") * 1000L + col("cy")).as("ckey"))
          .localCheckpoint(false)
        val offs = array((for { dx <- -1 to 1; dy <- -1 to 1 }
          yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
        var lbl = hot.select(col("cx"), col("cy"), col("cnt"),
          col("ckey").as("lbl")).localCheckpoint(false)
        var prev = lbl
        for (_ <- 1 to 4) {
          prev = lbl
          val msgs = lbl.withColumn("o", explode(offs))
            .select((col("cx") + col("o.dx")).as("cx"),
              (col("cy") + col("o.dy")).as("cy"), col("lbl"))
          lbl = hot.select(col("cx"), col("cy"), col("cnt"))
            .join(msgs, Seq("cx", "cy"))
            .groupBy(col("cx"), col("cy"))
            .agg(max(col("cnt")).as("cnt"), min(col("lbl")).as("lbl"))
            .localCheckpoint(false)
        }
        val glob = lbl.agg(count(lit(1)).as("n_hot_cells"),
          countDistinct(col("lbl")).as("n_clusters"))
        val chg = lbl.select(col("cx"), col("cy"), col("lbl").as("l4"))
          .join(prev.select(col("cx"), col("cy"), col("lbl").as("l3")),
            Seq("cx", "cy"))
          .agg(sum(when(col("l4") =!= col("l3"), 1L).otherwise(0L))
            .as("changed_last_round"))
        lbl.groupBy(col("lbl").as("cluster_id"))
          .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_fixes"),
            min(col("cx")).as("min_cx"), max(col("cx")).as("max_cx"),
            min(col("cy")).as("min_cy"), max(col("cy")).as("max_cy"))
          .crossJoin(broadcast(glob)).crossJoin(broadcast(chg))
          .orderBy(col("cluster_id"))
      },
      oracle = Some {
        val jitX = "(CAST(('0x' || substr(md5(concat('q343x#', " +
          "CAST(id AS VARCHAR))), 1, 12)) AS BIGINT) % 3000001 - 1500000)"
        val jitY = "(CAST(('0x' || substr(md5(concat('q343y#', " +
          "CAST(id AS VARCHAR))), 1, 12)) AS BIGINT) % 3000001 - 1500000)"
        val rounds = (1 to 4).map { k =>
          s"""l$k AS (SELECT h.cx, h.cy, h.cnt, (
               SELECT MIN(p.lbl) FROM l${k - 1} p
               WHERE p.cx BETWEEN h.cx - 1 AND h.cx + 1
                 AND p.cy BETWEEN h.cy - 1 AND h.cy + 1) AS lbl
             FROM l${k - 1} h)"""
        }.mkString(",\n        ")
        s"""
        WITH pts AS MATERIALIZED (
          SELECT CAST(round(latitude * 1000000) AS BIGINT) + 90000000
                   AS slat,
                 CAST(round(longitude * 1000000) AS BIGINT) + 180000000
                   AS slon
          FROM ${VerifyInputs.staged("_q70_input")}
          UNION ALL
          SELECT (10 + 15 * (id % 5)) * 2000000 + 1000000 + $jitX,
                 (20 + 30 * (id % 5)) * 2000000 + 1000000 + $jitY
          FROM (SELECT rn - 1 AS id FROM (
                  SELECT ROW_NUMBER() OVER () AS rn FROM
                    ${VerifyInputs.staged("_q70_input")})
                WHERE rn <= (SELECT COUNT(*) // 50 FROM
                  ${VerifyInputs.staged("_q70_input")}))),
        cells AS MATERIALIZED (
          SELECT slat // 2000000 AS cx, slon // 2000000 AS cy,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pts GROUP BY 1, 2),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS c,
                      CAST(SUM(cnt) AS BIGINT) AS n FROM cells),
        l0 AS MATERIALIZED (
          SELECT cx, cy, cnt, cx * 1000 + cy AS lbl
          FROM cells CROSS JOIN st
          WHERE cnt >= 8 AND cnt * c >= n * 4),
        $rounds,
        gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hot_cells,
                        CAST(COUNT(DISTINCT lbl) AS BIGINT) AS n_clusters
                 FROM l4),
        chg AS (SELECT CAST(SUM(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0
                   END) AS BIGINT) AS changed_last_round
                FROM l4 a JOIN l3 b ON a.cx = b.cx AND a.cy = b.cy)
        SELECT l.lbl AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(l.cnt) AS BIGINT) AS n_fixes,
               MIN(l.cx) AS min_cx, MAX(l.cx) AS max_cx,
               MIN(l.cy) AS min_cy, MAX(l.cy) AS max_cy,
               g.n_hot_cells, g.n_clusters, ch.changed_last_round
        FROM l4 l CROSS JOIN gl g CROSS JOIN chg ch
        GROUP BY l.lbl, g.n_hot_cells, g.n_clusters, ch.changed_last_round
        ORDER BY cluster_id"""
      })
  )
}
