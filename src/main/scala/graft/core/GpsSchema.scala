package graft.core

import org.apache.spark.sql.types._

/** The telemetry record produced by the reference's GPS simulator
  * (producer/gps-tracking-simulation.py:68-80) — the one schema in the
  * reference system.
  *
  * The reference never declares this schema; it relies on
  * `spark.read.json` inference per batch (spark_job.py:109), which costs a
  * second full read of every file. We declare it explicitly (SURVEY §1.3)
  * and keep inference as an opt-in compatibility mode in
  * [[graft.sources.JsonBatchReader]].
  *
  * `timestamp` is intentionally a STRING — the producer emits a
  * '%Y-%m-%d %H:%M:%S' wall-clock string (producer:58), and inference
  * would see a string. Event-time operations parse it explicitly with
  * `to_timestamp` while the raw column is preserved for bit-for-bit
  * fidelity.
  */
final case class GpsRecord(
    vehicle_id: String,
    latitude: Double,
    longitude: Double,
    speed_kmh: Double,
    direction: String,
    fuel_level: Option[Double], // null when the vehicle is an EV (producer:61-62)
    battery_level: Double,
    seat_belt_status: String,
    collision_detected: Boolean,
    sudden_braking: Boolean,
    timestamp: String)

object GpsSchema {
  /** Field order matches what `spark.read.json` inference produces on the
    * producer's output (alphabetical), so the explicit-schema path and the
    * inference compatibility path yield identical DataFrames. */
  val schema: StructType = StructType(Seq(
    StructField("battery_level", DoubleType),
    StructField("collision_detected", BooleanType),
    StructField("direction", StringType),
    StructField("fuel_level", DoubleType, nullable = true),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("seat_belt_status", StringType),
    StructField("speed_kmh", DoubleType),
    StructField("sudden_braking", BooleanType),
    StructField("timestamp", StringType),
    StructField("vehicle_id", StringType)))

  val directions: Seq[String] = Seq("N", "S", "E", "W", "NE", "NW", "SE", "SW")
  val seatBeltStates: Seq[String] = Seq("Fastened", "Unfastened")
}
