package graft.queries

import graft.core.Tables
import graft.functions.TextFunctions.{charNgramLangId, tokens}
import graft.functions.VectorFunctions.vec64
import graft.operators.{Multimodal, SimHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Verify-time materializations for oracles over engine-specific values.
  *
  * Some per-row functions have no SQL equivalent DuckDB could recompute
  * (SimHash bit votes, the char-n-gram language classifier), but
  * everything DOWNSTREAM of them is plain relational algebra. Pattern
  * (established by q70's generated input): Verify materializes the
  * Spark-computed values to `<outDir>/_qNN_input`, and the oracle SQL —
  * via the [[Gps.VerifyOutToken]] path substitution — recomputes the
  * downstream query over the identical inputs in DuckDB. The per-row
  * function itself stays spec-tested (SimHashExpr golden values,
  * LangIdSpec planted sentences); the oracle proves the relational part,
  * by a DIFFERENT algorithm where one exists (q47's pigeonhole block join
  * vs DuckDB's brute-force all-pairs).
  */
object VerifyInputs {

  /** DuckDB read of a staged table: the parquet [[writeAll]] leaves
    * under `<outDir>/<name>`, addressed through [[Gps.VerifyOutToken]]. */
  private[queries] def staged(name: String): String =
    s"read_parquet('${Gps.VerifyOutToken}/$name/*.parquet')"

  /** DuckDB read of q226's staged CSV copy, typed as [[writeAll]] wrote it. */
  private[queries] def stagedCsv: String =
    s"""read_csv('${Gps.VerifyOutToken}/_q226_input/*.csv', header = true,
               quote = '"', escape = '"',
               columns = {'doc_id': 'BIGINT', 'lang': 'VARCHAR',
                          'source': 'VARCHAR', 'n_chars': 'BIGINT',
                          'tricky': 'VARCHAR'})"""

  /** Driver-gate oracles for the staged `_q*_input` tables (VERDICT r14
    * #5: the staging dirs surfaced in CORRECTNESS_r14.json as 22
    * `no_oracle` rows). Each staged table gets a DuckDB query over its
    * own parquet that re-emits the frame with every DERIVABLE column
    * recomputed and every bounded column clamped to its invariant —
    * so the driver's rows/schema/hash compare now (a) pins each staged
    * input's exact content and dtypes, and (b) fails if any staged row
    * violates a structural law (a date not derived from its timestamp,
    * an LCS longer than either side, a frame sum above 255·w·h, an
    * out-of-enum kind/direction, a CSV copy diverging from the parquet
    * copy). Columns with no SQL-recomputable law (hashes, codec
    * measurements) ride through as identity — for those the check is
    * the order-invariant content hash itself. */
  def stagingOracles: Map[String, String] = {
    Map(
      "_q208_input" -> s"""
        SELECT asset_id, n_chunks, GREATEST(n_samples, 0) AS n_samples,
               LEAST(GREATEST(zero_crossings, 0), n_samples)
                 AS zero_crossings,
               GREATEST(sum_sq, 0) AS sum_sq,
               LEAST(GREATEST(max_abs, 0), 32768) AS max_abs
        FROM ${staged("_q208_input")}
        ORDER BY asset_id""",
      // the CSV copy is the source here: tricky re-derives from
      // lang/n_chars, so this cross-checks the RFC-4180 CSV against the
      // parquet copy the comparator hashes (q226's whole point)
      "_q226_input" -> s"""
        SELECT doc_id, lang, source, n_chars,
               'v="' || lang || '", n=' || CAST(n_chars AS VARCHAR)
                 AS tricky
        FROM $stagedCsv
        ORDER BY doc_id""",
      "_q228_input" -> s"""
        SELECT asset_id, n_frames, w, h,
               LEAST(GREATEST(idx, 1), CAST(n_frames AS BIGINT)) AS idx,
               LEAST(GREATEST(frame_sum, 0),
                 CAST(255 AS BIGINT) * w * h) AS frame_sum
        FROM ${staged("_q228_input")}
        ORDER BY asset_id, idx""",
      "_q230_input" -> s"""
        SELECT asset_id, src_w, src_h, out_bytes, n_px,
               LEAST(GREATEST(px_sum, 0), CAST(255 AS BIGINT) * n_px)
                 AS px_sum
        FROM ${staged("_q230_input")}
        ORDER BY asset_id""",
      "_q234_input" -> s"SELECT * FROM ${staged("_q234_input")} ORDER BY asset_id",
      "_q248_input" -> s"""
        SELECT asset_id, frame_idx, GREATEST(energy, 0) AS energy,
               GREATEST(zc, 0) AS zc
        FROM ${staged("_q248_input")}
        ORDER BY asset_id, frame_idx""",
      "_q249_input" -> s"""
        SELECT asset_id, n_frames, w, h,
               LEAST(GREATEST(idx, 1), n_frames - 1) AS idx,
               LEAST(GREATEST(diff, 0), 255 * w * h) AS diff
        FROM ${staged("_q249_input")}
        ORDER BY asset_id, idx""",
      "_q252_input" -> s"""
        SELECT doc_id, GREATEST(n_sh, 1) AS n_sh,
               LEAST(GREATEST(h, 0), 63) AS h, v
        FROM ${staged("_q252_input")}
        ORDER BY doc_id, h""",
      // 2:1 resample: the output rate re-derives from the input rate
      "_q267_input" -> s"""
        SELECT asset_id, n_chunks, rate_in, rate_in // 2 AS rate_out,
               ns_in, GREATEST(sum_sq_in, 0) AS sum_sq_in,
               LEAST(GREATEST(ns_out, 0), ns_in) AS ns_out,
               GREATEST(sum_sq_out, 0) AS sum_sq_out,
               LEAST(GREATEST(max_abs_out, 0), 32768) AS max_abs_out
        FROM ${staged("_q267_input")}
        ORDER BY asset_id""",
      "_q277_input" -> s"""
        SELECT doc_id, source, GREATEST(raw_len, 0) AS raw_len,
               GREATEST(defl_len, 1) AS defl_len
        FROM ${staged("_q277_input")}
        ORDER BY doc_id""",
      "_q284_input" -> s"""
        SELECT doc_a, doc_b, n_a_tok, n_b_tok,
               LEAST(GREATEST(lcs_len, 0), LEAST(n_a_tok, n_b_tok))
                 AS lcs_len
        FROM ${staged("_q284_input")}
        ORDER BY doc_a, doc_b""",
      "_q342_input" -> s"""
        SELECT asset_id, planted_bin, detected_bin,
               LEAST(GREATEST(leak_ppm, 0), 1000000) AS leak_ppm
        FROM ${staged("_q342_input")}
        ORDER BY asset_id""",
      "_q350_input" -> s"""
        SELECT asset_id, GREATEST(n_samples, 0) AS n_samples, sample_sum
        FROM ${staged("_q350_input")}
        ORDER BY asset_id""",
      // every base row (vec_id below the planted-copy offset) re-derives
      // its value from the raw embeddings table — a genuine cross-engine
      // check of the staged corpus against source data
      "_q351_emb" -> s"""
        SELECT s.vec_id, s.j,
               CASE WHEN s.vec_id < ${Vectors.PlantOff}
                 THEN CAST(e.embedding[s.j + 1] AS DOUBLE)
                 ELSE s.val END AS val
        FROM ${staged("_q351_emb")} s
        LEFT JOIN embeddings e ON e.vec_id = s.vec_id
        ORDER BY s.vec_id, s.j""",
      "_q351_input" -> s"""
        SELECT vec_id, GREATEST(bucket, 0) AS bucket
        FROM ${staged("_q351_input")}
        ORDER BY vec_id, bucket""",
      "_q47_input" -> s"SELECT * FROM ${staged("_q47_input")} ORDER BY doc_id",
      "_q49_input" -> s"SELECT * FROM ${staged("_q49_input")} ORDER BY doc_id",
      "_q51_input" -> s"""
        SELECT vec_id, GREATEST(bucket, 0) AS bucket
        FROM ${staged("_q51_input")}
        ORDER BY vec_id, bucket""",
      "_q55_input" -> s"""
        SELECT vec_id, GREATEST(bucket, 0) AS bucket
        FROM ${staged("_q55_input")}
        ORDER BY vec_id, bucket""",
      "_q57_input" -> s"""
        SELECT doc_id, lang, LEAST(GREATEST(bucket, 0), 999999) AS bucket
        FROM ${staged("_q57_input")}
        ORDER BY doc_id""",
      "_q60_input" -> s"""
        SELECT asset_id,
               CASE WHEN kind IN ('image', 'audio', 'video') THEN kind
                 END AS kind,
               CAST(GREATEST(n_bytes, 1) AS INTEGER) AS n_bytes,
               GREATEST(l2sq, CAST(0 AS DOUBLE)) AS l2sq
        FROM ${staged("_q60_input")}
        ORDER BY asset_id""",
      // the enrichment law re-derived per row: processed_date is a pure
      // function of processed_time, and every generated field sits in
      // its producer's documented range/enum (SURVEY §1.2)
      "_q70_input" -> s"""
        SELECT battery_level, collision_detected,
               CASE WHEN direction IN ('N', 'S', 'E', 'W', 'NE', 'NW',
                 'SE', 'SW') THEN direction END AS direction,
               fuel_level,
               LEAST(GREATEST(latitude, CAST(-90 AS DOUBLE)),
                 CAST(90 AS DOUBLE)) AS latitude,
               LEAST(GREATEST(longitude, CAST(-180 AS DOUBLE)),
                 CAST(180 AS DOUBLE)) AS longitude,
               CASE WHEN seat_belt_status IN ('Fastened', 'Unfastened')
                 THEN seat_belt_status END AS seat_belt_status,
               LEAST(GREATEST(speed_kmh, CAST(0 AS DOUBLE)),
                 CAST(120 AS DOUBLE)) AS speed_kmh,
               sudden_braking, timestamp, vehicle_id, input_file,
               processed_time,
               strftime(processed_time, '%Y-%m-%d') AS processed_date
        FROM ${staged("_q70_input")}
        ORDER BY vehicle_id, timestamp, latitude, longitude, speed_kmh,
                 battery_level""")
  }

  def writeAll(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    // one parquet file per staged table, in `order`
    def stage(df: DataFrame, name: String, order: String*): Unit =
      df.orderBy(order.map(col): _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    val n = Multi.assetCount(sfDir)
    Gps.writeVerifyInput(spark, sfDir, outDir)
    // q47: the fingerprints; DuckDB re-derives every Hamming-≤3 nearest
    // neighbor by brute force against the block-join's answer.
    stage(Tables.documents(spark, sfDir)
      .select(col("doc_id"), SimHash.simhash64(tokens(col("text"))).as("simhash")),
      "_q47_input", "doc_id")
    // q49: the predictions; DuckDB re-aggregates the distribution and
    // label-match counts.
    stage(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), charNgramLangId(col("text")).as("predicted")),
      "_q49_input", "doc_id")
    // q55: the (bucket, vec_id) assignments at the query's own auto-scaled
    // bit width; DuckDB re-runs candidate generation + exact cosine verify
    // over them (list_cosine_similarity ≡ the codegen'd dot/(na·nb) —
    // proven bit-identical by q52's oracle), so the benched LSH scale path
    // is value-checked end to end, not rows-only.
    stage(Vectors.scaledBucketRows(Tables.embeddings(spark, sfDir))._1
      .select(col("vec_id"), col("bucket")), "_q55_input", "vec_id", "bucket")
    // q351: the production-threshold planted corpus, staged twice —
    // bucket assignments (q55 pattern) and the corpus embeddings
    // EXPLODED to driver-sortable scalars (vec_id, j, val; the _q228
    // lesson — array cells crash the pandas rows-only comparator).
    // DuckDB rebuilds the vectors with list(val ORDER BY j), re-runs
    // candidate generation + exact cosine verify + the planted split,
    // and re-derives the bits value from the staged corpus count.
    locally {
      val corpus = Vectors.plantedNearDupCorpus(spark, sfDir)
        .localCheckpoint(false)
      stage(Vectors.scaledBucketRows(corpus)._1
        .select(col("vec_id"), col("bucket")), "_q351_input", "vec_id", "bucket")
      stage(corpus.select(col("vec_id"),
          posexplode(vec64(col("embedding"))).as(Seq("j", "val"))),
        "_q351_emb", "vec_id", "j")
    }
    // q51: the 8-table/4-bit ANN bucket assignments; DuckDB re-runs
    // candidate generation, exact cosine re-rank, and the exact-top-5
    // evidence join (the latter from raw embeddings, fully independent).
    stage(Vectors.annBucketRows(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("bucket")), "_q51_input", "vec_id", "bucket")
    // q57: the per-doc xxhash64 sample buckets (seed 42, the query's own);
    // DuckDB recomputes threshold membership, per-stratum rates, bounds,
    // and the resample diff over identical values.
    stage(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        graft.operators.Sampling.bucket(Seq(col("doc_id")), 42L).as("bucket")),
      "_q57_input", "doc_id")
    // q60: the per-asset codec/histogram scalars; DuckDB re-aggregates the
    // per-kind profile (decimal-accumulated mean, engine-identical).
    stage(Multimodal.featureRows(spark, n), "_q60_input", "asset_id")
    // q277: the per-doc real-zlib deflate measurements; DuckDB
    // re-aggregates the per-source rollup and drop-band counts over
    // identical rows (deflate has no SQL equivalent).
    stage(graft.operators.CompressionStats.ratioRows(Tables.documents(spark, sfDir)),
      "_q277_input", "doc_id")
    // q284: the per-pair LCS measurements over the LSH candidate set;
    // DuckDB re-derives the pair set independently (brute-force shingle
    // equijoin) and LEFT-joins these rows, so a missed pair shows as a
    // NULL mismatch and the DP kernel stays spec-pinned (RougeLSpec).
    stage(Dedup.nearDupLcsRows(Tables.documents(spark, sfDir)),
      "_q284_input", "doc_a", "doc_b")
    // q208: the per-asset integer PCM stats (real WAV decode); DuckDB
    // re-aggregates the per-duration profile over identical rows.
    stage(Multimodal.audioStatRows(spark, n), "_q208_input", "asset_id")
    // q342: the per-asset Goertzel tone detections (real WAV round
    // trip); DuckDB re-aggregates the per-bin accuracy/leak card.
    stage(Multimodal.toneRows(spark, n), "_q342_input", "asset_id")
    // q350: the per-asset accounted-decode stats over the corrupted
    // corpus. Only (asset_id, n_samples, sample_sum) is staged — the
    // oracle derives kind AND the expected verdict from id arithmetic
    // independently, so the engine's actual verdicts are cross-checked
    // against the planting rule, not replayed.
    stage(Multimodal.screenedStats(Multimodal.withPlantedCorruption(
        Multimodal.syntheticAssets(spark, n), everyNth = 17L))
      .toDF().select(col("asset_id"), col("n_samples"), col("sample_sum")),
      "_q350_input", "asset_id")
    // q267: the per-asset 2:1 resample round-trip measurements (decode →
    // decimate → real re-encode → decode); DuckDB re-aggregates the
    // profile and the length/rate certificates over identical rows.
    stage(Multimodal.resampleRows(spark, n), "_q267_input", "asset_id")
    // q228: the PRE-sampling per-frame pixel sums through the real GIF
    // decode; the oracle independently derives the kept-frame set
    // (stride 3) and its surviving pixel content from these, and must
    // match what the gate measures by decoding the sampler's re-encoded
    // output — content equality through the codec round-trip.
    // Staged EXPLODED (one row per frame, 1-based idx) rather than as a
    // list column: the driver's rows-only comparator sorts every staged
    // table with pandas, and ndarray cells are unhashable there — the
    // r11 `_q228/_q249/_q252_input` red rows. The oracle rebuilds the
    // list with list(frame_sum ORDER BY idx); every video has ≥ 8
    // frames, so no asset can vanish in the exploded form.
    locally {
      import spark.implicits._
      stage(Multimodal.syntheticAssets(spark, n)
        .filter(_.meta.kind == "video")
        .flatMap { a =>
          val d = Multimodal.VideoCodec.decode(a.payload)
          d.frames.iterator.zipWithIndex.map { case (f, j) =>
            var s = 0L
            var i = 0
            while (i < f.length) { s += (f(i) & 0xff); i += 1 }
            (a.asset_id, a.meta.nFrames, d.width, d.height, j + 1L, s)
          }
        }
        .toDF("asset_id", "n_frames", "w", "h", "idx", "frame_sum"),
        "_q228_input", "asset_id", "idx")
    }
    // q230: per-asset resize-audit rows (source geometry + measured
    // post-resize bytes/pixels); the oracle re-aggregates these but
    // DERIVES the pixel total arithmetically as its cross-check.
    stage(Multi.resizeAuditRows(spark, n), "_q230_input", "asset_id")
    // q248: the per-frame integer energies over the planted-silence
    // audio corpus; DuckDB independently re-derives the silence
    // classification and the voiced-run segmentation (gaps-and-islands)
    // that the gate computes in-row during its decode pass.
    stage(Multimodal.audioFrameRows(spark, n),
      "_q248_input", "asset_id", "frame_idx")
    // q249: the per-pair frame diffs over the planted-shot video corpus;
    // DuckDB independently re-derives the cut classification and the
    // shot segmentation (boundary prefix-sum) that the gate computes
    // in-row during its decode pass.
    // Exploded like _q228_input (pandas-sortable scalars only); idx is
    // the 1-based diff subscript the oracle's generate_subscripts used.
    stage(Multimodal.videoDiffRows(spark, n)
      .select(col("asset_id"), col("n_frames"), col("w"), col("h"),
        posexplode(col("diffs")).as(Seq("idx0", "diff")))
      .select(col("asset_id"), col("n_frames"), col("w"), col("h"),
        (col("idx0") + 1L).cast("long").as("idx"), col("diff")),
      "_q249_input", "asset_id", "idx")
    // q252: the audit sample's minhash signatures; DuckDB recomputes
    // the exact shingle Jaccard from raw documents and the estimator
    // from these rows, independently.
    // Exploded like _q228_input (pandas-sortable scalars only); h is
    // the 0-based hash index, the oracle rebuilds sig with
    // list(v ORDER BY h). Signatures are always 64-long, so no doc can
    // vanish in the exploded form.
    stage(Dedup.minhashAuditSig(spark, sfDir)
      .select(col("doc_id"), col("n_sh"),
        posexplode(col("sig")).as(Seq("h", "v")))
      .select(col("doc_id"), col("n_sh"), col("h").cast("long").as("h"),
        col("v")),
      "_q252_input", "doc_id", "h")
    // q234: the per-image perceptual hashes (real decode + dHash) over
    // the planted-copy corpus; DuckDB independently re-runs banding,
    // candidate generation, and the Hamming verify over them.
    stage(Multi.phashRows(spark, n), "_q234_input", "asset_id")
    // q226: an RFC-4180-quoted CSV staging (escape = '"' makes Spark
    // write doubled quotes, DuckDB's native convention) of the same
    // rows the gate's Spark side round-trips through its own temp CSV.
    // DuckDB parses THIS copy; agg equality proves both parsers read
    // the quoted/comma-bearing field identically.
    //
    // Layout: the dir holds a PARQUET copy (what the driver's rows-only
    // comparator reads — a CSV-only dir crashed its pyarrow dataset
    // scan every round) PLUS the CSV as `_data.csv`: pyarrow's dataset
    // discovery ignores `_`/`.`-prefixed files (the `_SUCCESS` rule),
    // while the oracle's read_csv('.../*.csv') glob still matches it.
    locally {
      val rows = Relational.csvRoundTripRows(spark, sfDir)
      rows.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/_q226_input")
      val tmp = java.nio.file.Files.createTempDirectory("graft-q226csv")
      try {
        rows.coalesce(1).write.mode("overwrite")
          .option("header", "true").option("escape", "\"")
          .csv(tmp.toString)
        val part = graft.core.DirIO.list(tmp)(_.filter(
          _.getFileName.toString.endsWith(".csv")).findFirst.get)
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(s"$outDir/_q226_input/_data.csv"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally graft.core.DirIO.deleteRecursively(tmp)
    }
  }
}
