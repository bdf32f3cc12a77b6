package graft
import graft.core.{JsonText, SparkSessionFactory}

/** Driver-run benchmark: headline queries (one per capability area) on
  * SPARK_GRAFT_SF_DIR with SPARK_GRAFT_CPUS cores (default: the host's).
  * Protocol, designed so a single cold JVM invocation reports
  * steady-state engine cost:
  *
  *   1. OS page-cache prewarm: read every benched parquet file's bytes so
  *      no timed run pays first-touch disk IO.
  *   2. Warmup pass: execute every headline query once untimed (codegen
  *      compiled, parquet footers/file index cached, JIT warm).
  *   3. min over 3 interleaved passes x 2 back-to-back executions per
  *      query. This host shows multi-second transient freezes under
  *      shared load; min-of-N measures the engine's cost, not a co-tenant
  *      stall that happened to land in a run (round-1 driver run hit
  *      5-13x inflation on sub-second queries; round-2's hit q50/q55 with
  *      a stall long enough to cover 5 consecutive runs — interleaved
  *      passes bound the damage any one stall can do to a single query's
  *      min, while the consecutive second execution keeps each query's
  *      generated code JIT-hot when it is sampled).
  *
  * A query that throws is recorded in an "errors" field with exit 1 —
  * never as a bogus time-until-failure sample. One JSON line on stdout.
  */
object Bench {

  private def prewarmPageCache(dir: String, ext: String = ".parquet"): Unit = {
    val buf = new Array[Byte](1 << 20)
    // walk (not list): testdata SF dirs hold single-file tables, but
    // Spark-written fixtures (the ScaleFixtures sf1 rehearsal corpus)
    // are table.parquet DIRECTORIES of part files — prewarm both.
    graft.core.DirIO.walk(java.nio.file.Paths.get(dir))(_.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p) &&
        (p.toString.endsWith(ext) || p.getParent.toString.endsWith(ext))) {
        val in = java.nio.file.Files.newInputStream(p)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSessionFactory.localFromEnv("graft-bench")
    val queries = SparkEntry.queries
    // Optional args name a headline subset for focused re-measure work
    // (the STANDING RE-MEASURE RULE in BASELINE.md needs per-query
    // isolation); the driver always invokes arg-less = full protocol.
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.headlines

    prewarmPageCache(sfDir)
    // JIT-prime the media codecs before the warmup pass (round 16,
    // VERDICT r15 #7): the warmup already JIT-warms every query once,
    // but q60's single warmup execution decodes the whole staged corpus
    // at interpreter speed first — priming the codec loops on tiny
    // synthetic payloads keeps the untimed warmup pass (and any first
    // timed sample on a slow host) near steady state.
    graft.operators.Multimodal.preJitCodecs()
    val meter = graft.core.Meter.on(spark)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { n => // warmup pass; also meters shuffle bytes + captures failures
      // NonFatal only: an OOM/LinkageError means a corrupted JVM whose
      // subsequent samples would be garbage — let it abort the run.
      try meter.label(n)(queries(n)(spark, sfDir).count())
      catch { case scala.util.control.NonFatal(e) => errors(n) = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200) }
      finally {
        // same hygiene as the timed loop: do not let one query's
        // checkpoint blocks squat in the block manager for the rest
        // of the warmup pass
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
    }

    // q60's staged media corpus (written during the warmup pass when the
    // host is fresh — Multimodal.stagedAssets) gets the same page-cache
    // treatment as sfDir. Since round 12 the stage root prefers tmpfs
    // (/dev/shm) where the bytes are memory-resident by construction and
    // this prewarm is a fast no-op; on the tmpdir fallback it still
    // matters — without it the timed scans of the ~1 GB staging dir race
    // the host's disk/writeback instead of measuring the engine (the r10
    // driver read q60 at 6.89 s where two clean-host runs with a warm
    // staging dir measured 2.72/2.83 s).
    val stageRoot = graft.operators.Multimodal.stageRoot
    if (java.nio.file.Files.isDirectory(stageRoot)) {
      graft.core.DirIO.list(stageRoot)(_.forEach { d =>
        if (java.nio.file.Files.isDirectory(d)) prewarmPageCache(d.toString)
      })
    }

    // Timed runs are interleaved round-robin (pass 1 runs every query
    // once, then pass 2, ...) instead of 5 consecutive runs per query.
    // The round-2 driver run showed why: a sustained co-tenant stall can
    // cover ALL back-to-back samples of the query it lands on (q50/q55
    // reported 8x/5x inflated while every neighbour was clean). With
    // interleaving, a stall shorter than ~a full pass leaves at least one
    // clean sample per query, and the per-query min recovers engine cost.
    // A query can pass warmup and still throw in a timed pass (flaky temp
    // state, host pressure): record it in `errors`, drop it from later
    // passes, and keep the bench alive — the JSON contract promises output
    // with an `errors` field, never a crash.
    val survivors = scala.collection.mutable.LinkedHashSet(
      names.filterNot(errors.contains): _*)
    val samples = scala.collection.mutable.Map[String, Double]()
    (1 to 3).foreach { _ =>
      survivors.toSeq.foreach { name =>
        // Inter-iteration hygiene (JMH-style), before starting the timer:
        // (1) unpersist every leftover persisted RDD — localCheckpoint
        // blocks from PREVIOUS queries' intermediate frames otherwise
        // accumulate in the block manager until the async ContextCleaner
        // happens to run (round 15: with 17 headlines × 3 passes the
        // residue grew to GBs and q60's decode pass — which needs ~2.7 GB
        // of headroom for 32 concurrent binary column batches — read
        // 6.8 s in-bench vs 1.5 s focused; a query's own blocks are
        // rebuilt fresh by each timed execution, so this frees only dead
        // weight); (2) collect the previous query's garbage so an
        // allocation-heavy rotation neighbour (q60's binary payloads
        // ahead of q70) does not tax the next query's samples.
        // blocking=true (round 16, VERDICT r15 #1a): the async form gave
        // no guarantee q353's multi-GB checkpoint frames had actually
        // LEFT the block manager before the next query's timer started —
        // the r15 driver run read q60 at 10.1 s (vs 2.28 s at 8 cores)
        // with exactly that rotation. The wait is untimed by construction.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        System.gc()
        // Two back-to-back executions per pass, both sampled. Pure
        // interleaving (r03/r04 protocol) made EVERY sample JIT-cold —
        // 12 other queries run between two samples of the same query,
        // evicting/deoptimizing its generated code — which inflated the
        // whole bench vs the r02 consecutive protocol (driver totals
        // 6.89 s → 10.0/9.1 s on unchanged plans; q70, the most
        // JIT-sensitive pure-compute query, 0.161 s → 0.37-0.42 s). The
        // second consecutive run measures steady-state engine cost, while
        // pass-level interleaving still bounds what one co-tenant stall
        // can do to any single query's min.
        try {
          (1 to 2).foreach { _ =>
            val t0 = System.nanoTime()
            queries(name)(spark, sfDir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            samples(name) = math.min(sec, samples.getOrElse(name, Double.MaxValue))
          }
        } catch { case scala.util.control.NonFatal(e) =>
          errors(name) = e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).take(200)
          survivors -= name
          samples -= name
        }
      }
    }
    val results = survivors.toSeq.map(name => name -> samples(name))
    // Ingest throughput: the reference's envelope is ingest-shaped
    // (Firehose buffers -> <=10 files per micro-batch, poller.py:20-24), so
    // measure MicroBatchPipeline end-to-end at the same batch shape:
    // JSON file source (explicit schema) -> SQL enrichment -> parquet
    // create-or-append, AvailableNow over pre-generated files. Generation
    // is untimed; the timed span is stream start -> last commit.
    // Stall-proof protocol (same rationale as the query loop): the round-5
    // driver record collapsed 61k -> 8.1k rows/s on an UNCHANGED pipeline —
    // a single-shot timing let one co-tenant stall own the round's headline
    // ingest number. Three repetitions into fresh tables/checkpoints over
    // the same (untimed, pre-generated, page-cache-warm) input files;
    // report the min. Repeat 1 doubles as warmup (file-source listing code,
    // JSON parse codegen, parquet writer paths all JIT-compile there).
    val ingest = if (args.nonEmpty) "" else try {
      val rows = graft.core.SfDir.scaled(sfDir, 6000L)
      val stamp = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
        .replaceAll("[^0-9a-zA-Z]", "")
      // tmpfs-preferred scratch (round 15, the streaming gates' dual):
      // the generated input files were already page-cache-prewarmed, but
      // the per-micro-batch checkpoint renames under $base/ckpt* paid
      // disk latency on /tmp.
      val base = graft.core.DirIO.scratchDir("graft-ingest").toString
      // scratch may be tmpfs (RAM) — release it once measured. In a
      // finally (round 16, ADVICE r15 #2): an exception mid-rep used to
      // leak the whole ~60-file tree in tmpfs, which the OS never reaps.
      try {
        graft.sources.GpsGenerator.writeJsonFiles(spark, s"$base/in", rows, files = 60)
        prewarmPageCache(s"$base/in", ext = ".json") // re-touch generated bytes
        var bestSec = Double.MaxValue
        var written = 0L
        (1 to 3).foreach { rep =>
          val table = s"graft_ingest_bench_${stamp}_r$rep"
          System.gc()
          val t0 = System.nanoTime()
          graft.streaming.MicroBatchPipeline.runAvailable(spark,
            graft.streaming.MicroBatchPipeline.Config(
              inputDir = s"$base/in", checkpointDir = s"$base/ckpt$rep", table = table))
          val sec = (System.nanoTime() - t0) / 1e9
          written = spark.table(table).count()
          spark.sql(s"DROP TABLE $table")
          if (written == rows) bestSec = math.min(bestSec, sec)
          else errors("ingest_rep" + rep) = s"wrote $written of $rows rows"
        }
        s""","ingest":{"rows":$written,"sec":$bestSec,"rows_per_sec":${(written / bestSec).toLong}}"""
      } finally graft.core.DirIO.deleteRecursively(java.nio.file.Paths.get(base))
    } catch { case scala.util.control.NonFatal(e) =>
      errors("ingest") = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200)
      ""
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // One warmup execution per query was metered, streams included. The
    // spill fields let a constrained-memory rehearsal record how much each
    // query spilled (0 under normal runs; VERDICT r14 #3).
    val shuffle = names.map { n =>
      val r = meter.record(n)
      "\"" + n + "\":{\"read\":" + r.shuffleRead + ",\"write\":" + r.shuffleWrite +
        ",\"mem_spill\":" + r.memorySpill + ",\"disk_spill\":" + r.diskSpill + "}"
    }.mkString(",\"shuffle_bytes\":{", ",", "}")
    val total = results.map(_._2).sum
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => JsonText.quote(k) + ":" + JsonText.quote(v) }
        .mkString(",\"errors\":{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$shuffle$ingest$errJson,"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
