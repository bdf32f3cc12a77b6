package graft.core

import org.apache.spark.sql.SparkSession

/** Single place every entry point builds its session (SURVEY §7.1-1,
  * mirroring the reference's create_spark_session, spark_job.py:126-145).
  *
  * Local profile: in-proc master, UTC, UI off, shuffle parallelism = core
  * count (not the 200 default — 32-way local has no use for 200 tiny
  * reduce tasks; at cluster scale this is instead sized to ~2-3× total
  * executor cores, with AQE coalescing handling the variance per stage).
  *
  * Prod (cluster) profile adds, per the reference's Iceberg wiring and the
  * 100 TB posture — listed here as the documented config surface rather
  * than hardcoded, since the offline build has no Iceberg runtime jar:
  *   spark.sql.extensions = IcebergSparkSessionExtensions
  *   spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog
  *   spark.sql.catalog.<name>.warehouse = <s3 warehouse>
  *   spark.sql.catalog.<name>.catalog-impl / io-impl  (Glue + S3FileIO)
  *   spark.sql.adaptive.enabled = true (default; skew-join + coalesce)
  *   spark.sql.files.maxPartitionBytes sized so a scan task's columnar
  *     batch fits executor memory (default 128 MB is right for most)
  */
object SparkSessionFactory {

  def local(cores: Int, appName: String = "graft"): SparkSession = {
    // Shuffle/spill scratch on the fastest local medium available
    // (round 15): local-mode shuffle map output and external-sort spill
    // files land under spark.local.dir, which defaults to the
    // disk-backed /tmp on this host — so every Exchange's write path
    // raced the host's co-tenant disk traffic. tmpfs (when writable)
    // mirrors what a production node's NVMe-local scratch is for;
    // the default /tmp fallback keeps the behavior unchanged elsewhere.
    // Only when a session is actually being BUILT (round 16, ADVICE r15
    // #1/#3): getOrCreate() silently ignores configs when a session
    // already exists, which both orphaned the created scratch dir and let
    // the caller believe shuffle scratch was on tmpfs when it wasn't.
    // The tmpfs choice itself is gated on usable space (DirIO.tmpfsUsable
    // — 64 MB container /dev/shm mounts must fall back to /tmp, and spill
    // landing back in RAM needs real headroom to be better than disk).
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val scratch =
      if (existing.isEmpty && DirIO.tmpfsUsable())
        Some(DirIO.scratchDir("spark-local")) else None
    scratch.foreach(deleteAtExit)
    val b = SparkSession.builder()
      .config(LocalFsConf)
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Checkpoint-file checksums stay at Spark's default (on): they guard
      // durable checkpoints (MicroBatchPipeline's) against bit-rot and
      // partial uploads. Only the streaming gates' runner turns them off,
      // for its seconds-lived checkpoints on scratch (StreamingGate.Gate).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // Warehouse rides the same gated scratch (round 16, r15 "not yet
    // optimized" #4): the only managed tables this engine creates are
    // ephemeral in-run test tables (the ingest bench table, the
    // q336/q337/q355 sink tables), all dropped or re-created per run —
    // their create-or-append parquet writes were the last query-path
    // I/O still landing on disk /tmp. Production note: a real warehouse
    // is a durability choice (S3/HDFS via the Iceberg catalog conf
    // below); this only places LOCAL ephemeral state.
    val s = scratch.fold(b)(p => b
        .config("spark.local.dir", p.toString)
        .config("spark.sql.warehouse.dir",
          p.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The `file://` scheme's Hadoop classes ([[NioLocalFileSystem]] for
    * `FileSystem`, [[NioLocalFs]] for `FileContext`): the stock local
    * filesystem minus its `chmod`/`readlink` subprocess per file create,
    * mkdir and rename. Every session this engine builds takes these keys
    * — this factory, and the specs' shared session — so checkpoints,
    * table commits and task files run on the same filesystem everywhere.
    * Other schemes (s3a, HDFS, the Iceberg catalog's) are untouched. */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Remove a session's scratch dir (shuffle/spill scratch and warehouse)
    * when the JVM exits. Registered below Spark's own shutdown hook
    * (priority `FileSystem.SHUTDOWN_HOOK_PRIORITY + 30`), so it runs after
    * the SparkContext has stopped; a dir the caller already removed is
    * skipped. */
  private def deleteAtExit(dir: java.nio.file.Path): Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => if (java.nio.file.Files.exists(dir)) DirIO.deleteRecursively(dir),
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  /** Cores from SPARK_GRAFT_CPUS (driver contract), else the host's. */
  def localFromEnv(appName: String = "graft"): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors), appName)

  /** Prod-profile Iceberg catalog wiring, key-for-key the reference's
    * create_spark_session (spark_job.py:128-139): SparkCatalog bound to a
    * warehouse with the Iceberg SQL extensions and S3FileIO. Exposed as
    * data (rather than baked into a builder) because the offline build has
    * no Iceberg jar to resolve these classes — `IcebergContractSpec`
    * asserts the exact strings; a runtime with the jar applies them via
    * `configs.foldLeft(builder)((b, kv) => b.config(kv._1, kv._2))`. */
  def icebergCatalogConf(catalogName: String, warehouse: String,
      region: String = "us-east-1"): Seq[(String, String)] = Seq(
    s"spark.sql.catalog.$catalogName" -> "org.apache.iceberg.spark.SparkCatalog",
    s"spark.sql.catalog.$catalogName.client.region" -> region,
    s"spark.sql.catalog.$catalogName.warehouse" -> warehouse,
    s"spark.sql.catalog.$catalogName.type" -> "glue",
    "spark.sql.extensions" -> "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    s"spark.sql.catalog.$catalogName.io-impl" -> "org.apache.iceberg.aws.s3.S3FileIO",
    // spark_job.py:138 — the reference pins the default AWS S3 endpoint for
    // the s3a filesystem alongside the catalog wiring.
    "spark.hadoop.fs.s3a.endpoint" -> "s3.amazonaws.com")

  /** K4 namespace DDL, verbatim spark_job.py:144. */
  def namespaceDdl(catalogName: String, namespace: String): String =
    s"CREATE NAMESPACE IF NOT EXISTS $catalogName.$namespace"
}
