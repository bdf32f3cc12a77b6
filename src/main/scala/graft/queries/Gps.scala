package graft.queries

import graft.sources.GpsGenerator
import graft.streaming.Enrichment
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's own pipeline surface as a gate-checked query: generate
  * the producer's telemetry (S1), enrich with the reference's own SQL
  * (T2–T5, clock fixed by `Enrichment.sqlAt` for determinism), aggregate per
  * direction — the SURVEY §7.2 acceptance query.
  *
  * There is no parquet *input* table, but generation is deterministic
  * (seed + injected clock), so the oracle is real: [[graft.Verify]]
  * materializes the enriched batch to `<outDir>/_q70_input` and rewrites
  * the [[VerifyOutToken]] placeholder in the oracle SQL to that absolute
  * path, giving DuckDB the exact same rows to aggregate. PipelineSpec
  * additionally asserts golden values through the full streaming path.
  */
object Gps {

  /** Placeholder in oracle SQL that Verify replaces with its outDir. */
  val VerifyOutToken = "__VERIFY_OUT__"

  /** Row count scaled to the testdata SF, mirroring lineitem's ~6k/sf0.001
    * (centralized exact-tag parsing — covers the ScaleFixtures sf1
    * rehearsal dirs; ADVICE r12 #4). */
  def inputRows(dir: String): Long = graft.core.SfDir.scaled(dir, 6000L)

  /** The deterministic enriched batch every q70 consumer agrees on. */
  def enrichedBatch(spark: SparkSession, dir: String): DataFrame =
    Enrichment.enrich(GpsGenerator.batch(spark, inputRows(dir), seed = 42L),
      Some(Enrichment.sqlAt(1750000000L)))

  /** Exact speed average without a decimal aggregation buffer.
    *
    * speed_kmh is generated with exactly 2 decimal places, so
    * `round(speed*100)` is integral and the long sum is exact (a 100 TB
    * corpus of max-speed rows sums to ~1.2e16, well inside Long). The
    * earlier DECIMAL(28,2) formulation was equally exact but its
    * decimal(38,2) buffer is not UnsafeRow-mutable, forcing SortAggregate —
    * a full sort of every row before the partial agg. Same trap with
    * `max(processed_date)` over the formatted STRING (UTF8String buffer):
    * max the underlying DATE (int buffer) and re-format after the agg.
    * Together these keep the plan in codegen'd HashAggregate (driver bench
    * q70: 0.37 s → the sort was most of it). The oracle mirrors the same op
    * sequence so the resulting values are bit-identical across engines. */
  private def aggregate(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("direction"))
      .agg(
        count(lit(1)).as("n_fixes"),
        // mean speed as INTEGER micro-km/h: cents-sum·10⁴ div n. The
        // round(double,6) form this replaces is 1-ulp-hazardous when the
        // exact cents/n quotient lands on a half-microunit — Spark rounds
        // the exact decimal HALF_UP while DuckDB rounds the float product,
        // and the sf0.1 sweep caught q130's twin doing exactly that.
        // Integer division is boundary-free in both engines.
        expr("(sum(cast(round(speed_kmh * 100) as bigint)) * 10000) " +
          "div count(speed_kmh)").as("avg_speed_ukmh"),
        sum(when(col("fuel_level").isNull, 1).otherwise(0)).as("n_ev_fixes"),
        sum(when(col("collision_detected"), 1).otherwise(0)).as("n_collisions"),
        max(to_date(col("processed_date"))).as("max_pd"))
      .select(col("direction"), col("n_fixes"), col("avg_speed_ukmh"),
        col("n_ev_fixes"), col("n_collisions"),
        date_format(col("max_pd"), "yyyy-MM-dd").as("processed_date"))
      .orderBy(col("direction"))

  /** Materialize the enriched batch for the DuckDB oracle (called by
    * Verify before dumping oracle_sql.json). */
  def writeVerifyInput(spark: SparkSession, sfDir: String, outDir: String): Unit =
    // fully ordered so the staging oracle (VerifyInputs.stagingOracles)
    // can replay the identical row order — the comparator is
    // order-sensitive, the Det discipline
    enrichedBatch(spark, sfDir)
      .orderBy(col("vehicle_id"), col("timestamp"), col("latitude"),
        col("longitude"), col("speed_kmh"), col("battery_level"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/_q70_input")

  val defs: Seq[(String, QueryDef)] = Seq(
    "q70_gps_enrich_agg" -> QueryDef(
      build = (spark, dir) => aggregate(enrichedBatch(spark, dir)),
      // speed_kmh has exactly 2 decimal places: ROUND(speed*100) is integral
      // in both engines, the BIGINT sum is exact, and the mean is reported
      // as integer micro-km/h via integer division — no double rounding
      // boundary anywhere (see aggregate()).
      oracle = Some(s"""
        SELECT direction,
               COUNT(*) AS n_fixes,
               CAST(SUM(CAST(ROUND(speed_kmh * 100) AS BIGINT)) AS BIGINT)
                 * 10000 // COUNT(speed_kmh) AS avg_speed_ukmh,
               CAST(SUM(CASE WHEN fuel_level IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ev_fixes,
               CAST(SUM(CASE WHEN collision_detected THEN 1 ELSE 0 END) AS BIGINT) AS n_collisions,
               CAST(MAX(CAST(processed_date AS DATE)) AS VARCHAR) AS processed_date
        FROM ${VerifyInputs.staged("_q70_input")}
        GROUP BY direction ORDER BY direction"""),
      headline = true)
  )
}
