package graft.streaming

import graft.SparkSpec
import graft.core.GpsSchema
import graft.sources.{GpsGenerator, JsonBatchReader}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** SURVEY §7.2 minimum end-to-end slice + checkpoint exactly-once. */
class PipelineSpec extends SparkSpec {

  /** `good` generated rows in one file plus `bad.json` holding `badText`;
    * returns the input glob that reads both. */
  private def goodAndBad(prefix: String, good: Long, badText: String): String = {
    val in = tmpDir(prefix)
    GpsGenerator.writeJsonFiles(spark, s"$in/good", n = good, files = 1)
    java.nio.file.Files.write(java.nio.file.Paths.get(in).resolve("bad.json"),
      badText.getBytes("UTF-8"))
    s"$in/{good/*,*.json}"
  }

  test("generator is deterministic and matches the producer's domains") {
    val df = GpsGenerator.batch(spark, 2000, seed = 42).cache()
    assert(df.count() == 2000)
    assert(df.columns.toSeq == GpsSchema.schema.fieldNames.toSeq)
    val stats = df.agg(
      countDistinct(col("vehicle_id")).as("fleet"),
      min(col("latitude")).as("minLat"), max(col("latitude")).as("maxLat"),
      min(col("speed_kmh")).as("minSp"), max(col("speed_kmh")).as("maxSp"),
      sum(when(col("fuel_level").isNull, 1).otherwise(0)).as("nullFuel"),
      countDistinct(col("direction")).as("dirs")).head()
    assert(stats.getAs[Long]("fleet") == 20)
    assert(stats.getAs[Double]("minLat") >= -90 && stats.getAs[Double]("maxLat") <= 90)
    assert(stats.getAs[Double]("minSp") >= 0 && stats.getAs[Double]("maxSp") <= 120)
    assert(stats.getAs[Long]("nullFuel") > 0) // EV subset emits null fuel
    assert(stats.getAs[Long]("dirs") == 8)
    // Determinism: same seed => identical content; different seed => different.
    assert(GpsGenerator.batch(spark, 2000, 42).exceptAll(df).isEmpty)
    assert(!GpsGenerator.batch(spark, 2000, 43).exceptAll(df).isEmpty)
  }

  test("end-to-end slice: JSON files -> stream -> enrich -> table -> query") {
    val in = tmpDir("gps-in")
    val table = "gps_e2e"
    GpsGenerator.writeJsonFiles(spark, in, n = 3000, files = 6)

    MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
      inputDir = in, checkpointDir = tmpDir("gps-ckpt"), table = table,
      sqlQuery = Some(Enrichment.sqlAt(1750000000L))))

    val out = spark.table(table).cache()
    assert(out.count() == 3000)
    // Enrichment columns (T3-T5) present and correct.
    assert(out.columns.toSet ==
      GpsSchema.schema.fieldNames.toSet ++ Set("input_file", "processed_time", "processed_date"))
    assert(out.where(col("processed_date") === "2025-06-15").count() == 3000)
    assert(out.where(col("input_file").contains(in.split("/").last)).count() == 3000)
    // The §7.2 acceptance query.
    val agg = out.groupBy(col("direction"))
      .agg(count(lit(1)).as("n"), avg(col("speed_kmh")).as("avg_speed"))
    assert(agg.count() == 8)
    assert(agg.agg(sum(col("n"))).head().getLong(0) == 3000)
    spark.sql(s"DROP TABLE $table")
  }

  test("quarantine path: malformed lines reach the quarantine table, never the main table") {
    val table = "gps_quarantine_main"
    val qt = "gps_quarantine_bad"
    val badLines = Seq(
      """{"vehicle_id": "veh_7", "timestamp": BROKEN}""",
      "not json at all")
    val in = goodAndBad("gps-quar-in", 200, badLines.mkString("\n"))
    try {
      MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
        inputDir = in, checkpointDir = tmpDir("gps-quar-ckpt"),
        table = table, sqlQuery = Some(Enrichment.sqlAt(1750000000L)),
        quarantineTable = Some(qt)))
      assert(spark.table(table).count() == 200,
        "malformed lines leaked into the main table (or good rows lost)")
      val bad = spark.table(qt).select(col("raw_line"))
        .collect().map(_.getString(0)).toSet
      assert(bad == badLines.toSet, s"quarantine content: $bad")
      // without quarantine, the same input silently nulls the bad rows in
      val table2 = "gps_quarantine_off"
      MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
        inputDir = in, checkpointDir = tmpDir("gps-quar-ckpt2"),
        table = table2, sqlQuery = Some(Enrichment.sqlAt(1750000000L))))
      assert(spark.table(table2).where(col("vehicle_id").isNull).count() == 2,
        "expected the reference's silent-null behavior without a quarantine")
      spark.sql(s"DROP TABLE $table2")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $qt")
    }
  }

  test("runAvailable refreshes the quarantine table for the caller's session") {
    val in = goodAndBad("gps-quar-refresh-in", 20, "not json at all")
    val table = "gps_quar_refresh_main"
    val qt = "gps_quar_refresh_bad"
    val config = MicroBatchPipeline.Config(
      inputDir = in, checkpointDir = tmpDir("gps-quar-refresh-ckpt"),
      table = table, sqlQuery = Some(Enrichment.sqlAt(1750000000L)),
      quarantineTable = Some(qt))
    try {
      MicroBatchPipeline.runAvailable(spark, config)
      // this read caches the table's relation in the caller's session
      assert(spark.table(qt).count() == 1)
      // the input glob matches a second bad file at the top level; the
      // same checkpoint picks up only that new file
      java.nio.file.Files.write(
        java.nio.file.Paths.get(in.stripSuffix("/{good/*,*.json}"), "bad2.json"),
        "still not json".getBytes("UTF-8"))
      MicroBatchPipeline.runAvailable(spark, config)
      assert(spark.table(qt).select(col("raw_line")).collect().map(_.getString(0)).toSet ==
        Set("not json at all", "still not json"),
        "the caller's session read a stale quarantine table")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $qt")
    }
  }

  test("quarantine replay under idempotentCommit replaces, never double-appends") {
    val in = goodAndBad("gps-quar-idem-in", 50, "not json at all")
    val table = "gps_quar_idem_main"
    val qt = "gps_quar_idem_bad"
    def run(ckpt: String): Unit =
      MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
        inputDir = in, checkpointDir = ckpt,
        table = table, sqlQuery = Some(Enrichment.sqlAt(1750000000L)),
        idempotentCommit = true, quarantineTable = Some(qt)))
    try {
      run(tmpDir("gps-quar-idem-ckpt1"))
      // simulate the crash-after-write-before-commit replay: a FRESH
      // checkpoint re-delivers the same files as the same batch ids —
      // the batch_id partition overwrite must replace, not append, on
      // BOTH tables (this is the quarantine half of the contract)
      run(tmpDir("gps-quar-idem-ckpt2"))
      assert(spark.table(table).count() == 50, "main table double-appended")
      assert(spark.table(qt).count() == 1, "quarantine table double-appended")
      assert(spark.table(qt).columns.contains("batch_id"),
        "quarantine rows lost their batch attribution")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $qt")
    }
  }

  test("observed ingest metrics ride the streaming progress events") {
    // Two inputs: quarantine mode counts the malformed line apart; plain
    // mode lands it as an all-null row, and rows_in must equal what the
    // table holds (a row probe over the scan would count extra rows).
    for (quarantine <- Seq(true, false)) {
      val in = goodAndBad("gps-obs-in", 100, "broken {")
      val table = "gps_obs_main"
      val qt = "gps_obs_bad"
      try {
        val q = MicroBatchPipeline.start(spark, MicroBatchPipeline.Config(
          inputDir = in, checkpointDir = tmpDir("gps-obs-ckpt"),
          table = table, sqlQuery = Some(Enrichment.sqlAt(1750000000L)),
          processingInterval = None, quarantineTable = Some(qt).filter(_ => quarantine)))
        q.awaitTermination()
        val metrics = q.recentProgress.toSeq
          .flatMap(p => Option(p.observedMetrics.get("ingest_metrics")))
        assert(metrics.nonEmpty, "no observed metrics in progress events")
        val rowsIn = metrics.map(_.getAs[Long]("rows_in")).sum
        assert(rowsIn == 101, s"quarantine=$quarantine")
        if (quarantine) assert(metrics.map(_.getAs[Long]("rows_bad")).sum == 1)
        else assert(spark.table(table).count() == rowsIn)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(s"DROP TABLE IF EXISTS $qt")
      }
    }
  }

  test("a batch of zero-length files writes nothing; a later non-empty file creates the table") {
    // The reference's empty-batch skip (spark_job.py:94-96), decided on
    // the driver: zero-byte files give the batch's scan no partitions.
    val in = tmpDir("gps-empty-in")
    val ckpt = tmpDir("gps-empty-ckpt")
    val table = "gps_empty_batch"
    Seq("a.json", "b.json").foreach(f => java.nio.file.Files.createFile(
      java.nio.file.Paths.get(in, f)))
    val config = MicroBatchPipeline.Config(inputDir = in, checkpointDir = ckpt,
      table = table, sqlQuery = Some(Enrichment.sqlAt(1750000000L)))
    val (sink, seen) = recordingSink()
    try {
      MicroBatchPipeline.runAvailable(spark, config, sink)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0")),
        "the batch of empty files did not run")
      assert(seen().isEmpty, s"an empty batch wrote through the sink: ${seen()}")
      assert(!spark.catalog.tableExists(table), "an empty batch created the table")
      java.nio.file.Files.write(java.nio.file.Paths.get(in, "c.json"),
        GpsGenerator.batch(spark, 30).toJSON.collect().toSeq.asJava)
      MicroBatchPipeline.runAvailable(spark, config, sink)
      assert(seen() == Set(table))
      assert(spark.table(table).count() == 30)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("an all-malformed batch in quarantine mode writes no main-table file") {
    val in = tmpDir("gps-all-bad-in")
    val table = "gps_all_bad_main"
    val qt = "gps_all_bad_dlq"
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "bad.json"),
      "not json at all\n{\"vehicle_id\": BROKEN}".getBytes("UTF-8"))
    val (sink, seen) = recordingSink()
    try {
      MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
        inputDir = in, checkpointDir = tmpDir("gps-all-bad-ckpt"), table = table,
        sqlQuery = Some(Enrichment.sqlAt(1750000000L)), quarantineTable = Some(qt)), sink)
      assert(seen() == Set(qt), s"tables written through the sink: ${seen()}")
      assert(!spark.catalog.tableExists(table), "the main table was created")
      assert(spark.table(qt).count() == 2)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $qt")
    }
  }

  test("checkpoint gives exactly-once across restarts; new files append once") {
    val in = tmpDir("gps-in2")
    val ckpt = tmpDir("gps-ckpt2")
    val table = "gps_eo"
    val config = MicroBatchPipeline.Config(
      inputDir = in, checkpointDir = ckpt, table = table,
      sqlQuery = Some(Enrichment.sqlAt(1750000000L)))

    GpsGenerator.writeJsonFiles(spark, s"$in/b1", 500, 2, seed = 1)
    // json writer emits _SUCCESS etc. at the top; stream reads the subdirs
    // via glob on the parent only if configured — write batches as sibling
    // dirs and point the stream at a glob.
    val globConfig = config.copy(inputDir = s"$in/*")
    MicroBatchPipeline.runAvailable(spark, globConfig)
    assert(spark.table(table).count() == 500)

    // Restart with no new data: checkpoint must prevent reprocessing.
    MicroBatchPipeline.runAvailable(spark, globConfig)
    assert(spark.table(table).count() == 500)

    // New files: appended exactly once, old files not re-read.
    GpsGenerator.writeJsonFiles(spark, s"$in/b2", 300, 2, seed = 2)
    MicroBatchPipeline.runAvailable(spark, globConfig)
    assert(spark.table(table).count() == 800)
    spark.sql(s"DROP TABLE $table")
  }

  test("q70 gate query: deterministic per-direction enrichment profile") {
    val q = graft.SparkEntry.queries("q70_gps_enrich_agg")
    val out = q(spark, "/root/testdata/sf0.001").cache()
    assert(out.count() == 8)
    assert(out.agg(sum(col("n_fixes"))).head().getLong(0) == 6000L)
    assert(out.select("processed_date").distinct().head().getString(0) == "2025-06-15")
    assert(q(spark, "/root/testdata/sf0.001").exceptAll(out).isEmpty)
  }

  test("default config (SQL path, wall clock) runs end-to-end in foreachBatch") {
    // Regression: foreachBatch hands the batch over on the stream's CLONED
    // session. enrich must register, query and drop the view on the
    // batch's own session, or the default Config throws
    // TABLE_OR_VIEW_NOT_FOUND on the first non-empty batch. The goldens
    // run the same SQL at a fixed clock; this case covers the wall clock.
    val in = tmpDir("gps-in4")
    val table = "gps_sqlpath"
    GpsGenerator.writeJsonFiles(spark, in, n = 400, files = 2)
    MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
      inputDir = in, checkpointDir = tmpDir("gps-ckpt4"), table = table))
    val out = spark.table(table)
    assert(out.count() == 400)
    assert(out.columns.toSet ==
      GpsSchema.schema.fieldNames.toSet ++ Set("input_file", "processed_time", "processed_date"))
    // Wall-clock enrichment: values are non-deterministic but must be present.
    assert(out.where(col("processed_time").isNull).count() == 0)
    assert(out.where(col("processed_date").isNull).count() == 0)
    spark.sql(s"DROP TABLE $table")
  }

  test("idempotent commit: replaying a committed batch does not duplicate rows") {
    // The crash window plain append cannot close: table write done,
    // checkpoint offset not committed, stream restarts and re-runs the
    // batch. With idempotentCommit the re-run must REPLACE partition
    // batch_id=N, leaving counts and content unchanged.
    val in = tmpDir("gps-in5")
    val table = "gps_idem"
    GpsGenerator.writeJsonFiles(spark, in, n = 300, files = 2,
      baseEpoch = 1750000000L)
    MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
      inputDir = in, checkpointDir = tmpDir("gps-ckpt5"), table = table,
      sqlQuery = Some(Enrichment.sqlAt(1750000000L)), idempotentCommit = true))
    val afterFirst = spark.table(table).count()
    assert(afterFirst == 300)
    val batchIds = spark.table(table).select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(batchIds.size == 1, "2 files under maxFilesPerTrigger=10 => one batch")

    // Simulate the replay: re-commit the SAME batch id with the same data
    // directly through the sink (what a restarted stream would do).
    val replay = Enrichment.enrich(
      graft.sources.JsonBatchReader.readGps(spark,
        new java.io.File(in).listFiles().filter(_.getName.endsWith(".json"))
          .map(_.getAbsolutePath).sorted.toSeq),
      Some(Enrichment.sqlAt(1750000000L)))
    IdempotentParquetSink.write(replay, table, batchIds.head)
    spark.catalog.refreshTable(table)
    assert(spark.table(table).count() == afterFirst,
      "replaying a committed batch changed the row count")
    assert(spark.table(table).select("batch_id").distinct().count() == 1)
    spark.sql(s"DROP TABLE $table")
  }

  test("idempotent sink refuses a table it did not create") {
    // A table created by plain ParquetSink has no batch_id partition level;
    // a positional insertInto with dynamic overwrite against it would
    // misplace rows silently. The sink must fail loudly instead.
    import spark.implicits._
    val table = "gps_idem_foreign"
    ParquetSink.write(Seq((1L, "a")).toDF("id", "v"), table, Nil, "snappy")
    val e = intercept[IllegalArgumentException] {
      IdempotentParquetSink.write(Seq((2L, "b")).toDF("id", "v"), table, 0L)
    }
    assert(e.getMessage.contains("not partitioned by 'batch_id'"))
    spark.catalog.refreshTable(table)
    assert(spark.table(table).count() == 1, "failed write must not mutate the table")
    spark.sql(s"DROP TABLE $table")
  }

  test("sink validation cache is invalidated by a TableSwap drop-recreate") {
    // Regression for the staleness window of the former per-JVM
    // validation cache: a TableSwap.rewrite that replaced the table with
    // a NON-batch_id layout under the same name let the positional dynamic
    // overwrite run unguarded. The sink now checks the catalog on every
    // write, so the next write must fail the guard loudly.
    import spark.implicits._
    val table = "gps_idem_swapped"
    IdempotentParquetSink.write(Seq((1L, "a")).toDF("id", "v"), table, 0L)
    IdempotentParquetSink.write(Seq((2L, "b")).toDF("id", "v"), table, 1L)
    assert(spark.table(table).count() == 2)
    graft.operators.TableSwap.rewrite(spark, table,
      Seq((9L, "z")).toDF("id", "v")) // plain layout: no batch_id partition
    val e = intercept[IllegalArgumentException] {
      IdempotentParquetSink.write(Seq((3L, "c")).toDF("id", "v"), table, 2L)
    }
    assert(e.getMessage.contains("not partitioned by 'batch_id'"))
    spark.catalog.refreshTable(table)
    assert(spark.table(table).count() == 1, "guarded write must not mutate the table")
    spark.sql(s"DROP TABLE $table")
  }

  test("idempotent sink re-checks a table dropped and recreated by raw DDL") {
    // Nothing in this library sees the raw DROP: the guard holds only
    // because every write reads the table's current catalog entry.
    import spark.implicits._
    val table = "gps_idem_raw_ddl"
    IdempotentParquetSink.write(Seq((1L, "a")).toDF("id", "v"), table, 0L)
    spark.sql(s"DROP TABLE $table")
    ParquetSink.write(Seq((9L, "z")).toDF("id", "v"), table, Nil, "snappy")
    try {
      val e = intercept[IllegalArgumentException] {
        IdempotentParquetSink.write(Seq((3L, "c")).toDF("id", "v"), table, 1L)
      }
      assert(e.getMessage.contains("not partitioned by 'batch_id'"))
      spark.catalog.refreshTable(table)
      assert(spark.table(table).as[(Long, String)].collect().toSeq == Seq((9L, "z")),
        "guarded write must not mutate the table")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** A TableSink that records every table name written through it. */
  private def recordingSink(): (TableSink, () => Set[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sink = new TableSink {
      def write(df: org.apache.spark.sql.DataFrame, fqn: String,
          partitionCols: Seq[String], compression: String): Unit = {
        seen.add(fqn)
        ParquetSink.write(df, fqn, partitionCols, compression)
      }
    }
    (sink, () => seen.toArray(Array.empty[String]).toSet)
  }

  test("quarantine mode writes both tables through the caller's sink") {
    val in = goodAndBad("gps-quar-sink-in", 50, "not json at all")
    val table = "gps_quar_sink_main"
    val qt = "gps_quar_sink_bad"
    val (sink, seen) = recordingSink()
    try {
      MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
        inputDir = in, checkpointDir = tmpDir("gps-quar-sink-ckpt"),
        table = table, sqlQuery = Some(Enrichment.sqlAt(1750000000L)),
        quarantineTable = Some(qt)), sink)
      assert(seen() == Set(table, qt), s"tables written through the sink: ${seen()}")
      assert(spark.table(qt).columns.toSeq == Seq("raw_line", "src_file", "batch_id"))
      assert(spark.table(qt).select(col("raw_line")).collect().map(_.getString(0)).toSeq ==
        Seq("not json at all"))
      assert(spark.table(table).count() == 50)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $qt")
    }
  }

  for ((what, sqlQuery, columns) <- Seq(
      ("a projecting sqlQuery writes only its columns",
        Some("SELECT vehicle_id FROM temp_view"), Seq("vehicle_id")),
      ("no enrichment writes the plain-mode columns",
        None, GpsSchema.schema.fieldNames.toSeq)))
    test(s"quarantine mode with $what") {
      val in = goodAndBad("gps-quar-fold-in", 50, "not json at all")
      val table = "gps_quar_fold_main"
      val qt = "gps_quar_fold_bad"
      try {
        MicroBatchPipeline.runAvailable(spark, MicroBatchPipeline.Config(
          inputDir = in, checkpointDir = tmpDir("gps-quar-fold-ckpt"), table = table,
          sqlQuery = sqlQuery, quarantineTable = Some(qt)))
        assert(spark.table(table).columns.toSeq == columns)
        assert(spark.table(table).count() == 50)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(s"DROP TABLE IF EXISTS $qt")
      }
    }

  test("idempotentCommit with a custom sink is refused before anything is written") {
    val in = tmpDir("gps-idem-sink-in")
    val ckpt = java.nio.file.Paths.get(tmpDir("gps-idem-sink"), "ckpt")
    val table = "gps_idem_custom_sink"
    GpsGenerator.writeJsonFiles(spark, in, n = 50, files = 1)
    val (sink, seen) = recordingSink()
    try {
      val e = intercept[IllegalArgumentException] {
        MicroBatchPipeline.start(spark, MicroBatchPipeline.Config(
          inputDir = in, checkpointDir = ckpt.toString, table = table,
          sqlQuery = Some(Enrichment.sqlAt(1750000000L)), processingInterval = None,
          idempotentCommit = true), sink)
      }
      assert(e.getMessage.contains("idempotentCommit"))
      assert(seen().isEmpty)
      assert(!java.nio.file.Files.exists(ckpt), "checkpoint written")
      assert(!spark.catalog.tableExists(table), "table created")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("explicit-schema read equals reference's inference read") {
    val in = tmpDir("gps-in3")
    GpsGenerator.writeJsonFiles(spark, in, 400, 2)
    val files = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".json")).map(_.getAbsolutePath).toSeq
    val explicit = JsonBatchReader.readGps(spark, files)
    val inferred = JsonBatchReader.read(spark, files, None)
    assert(explicit.schema == inferred.schema)
    assert(explicit.exceptAll(inferred).isEmpty &&
      inferred.exceptAll(explicit).isEmpty)
  }

  test("enrich drops its temp view and its result still writes") {
    val table = "gps_enrich_no_view"
    val enriched = Enrichment.enrich(GpsGenerator.batch(spark, 100),
      Some(Enrichment.sqlAt(1750000000L)))
    assert(!spark.catalog.tableExists("temp_view"), "enrich left temp_view registered")
    try {
      ParquetSink.write(enriched, table, Nil, "snappy")
      val out = spark.table(table)
      assert(out.columns.toSeq == GpsSchema.schema.fieldNames.toSeq ++
        Seq("input_file", "processed_time", "processed_date"))
      assert(out.where(col("processed_date") === "2025-06-15").count() == 100)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
