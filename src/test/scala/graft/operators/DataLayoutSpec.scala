package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class DataLayoutSpec extends SparkSpec {

  test("clustered write produces disjoint per-file key ranges; scans prune") {
    try {
      DataLayout.writeClustered(
        Tables.orders(spark, sf), "orders_clustered", Seq("o_custkey"), numFiles = 8)
      val ranges = DataLayout.fileRanges(spark, "orders_clustered", "o_custkey")
        .collect()
      assert(ranges.length == 8)
      // pairwise disjoint: each file's min is >= the previous file's max
      // (range partitioning allows the boundary value to touch)
      val sorted = ranges.sortBy(_.getAs[Long]("k_min"))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(b.getAs[Long]("k_min") >= a.getAs[Long]("k_max"),
          s"overlapping ranges: $a vs $b")
      }
      // content preserved
      assert(spark.table("orders_clustered").count() ==
        Tables.orders(spark, sf).count())
      // a key-range scan reads a subset of files (parquet stats pruning
      // surface): everything below the first file's max key lives in at
      // most 2 files (the first, plus a possible boundary-sharing second)
      val cut = sorted.head.getAs[Long]("k_max")
      val hit = spark.table("orders_clustered")
        .filter(col("o_custkey") < cut)
        .select(input_file_name()).distinct().count()
      assert(hit <= 2, s"range scan below $cut touched $hit of 8 files")
    } finally spark.sql("DROP TABLE IF EXISTS orders_clustered")
  }

  test("z-bounds come from parquet footers — no extra scan job") {
    val orders = Tables.orders(spark, sf)
    // Footer stats give the exact global min/max of a full parquet scan.
    val Seq((aLo, aHi), (bLo, bHi)) =
      DataLayout.footerBounds(orders, Seq("o_custkey", "o_totalprice")).get
    val Array(r) = orders.agg(
      min(col("o_custkey")).cast("double"), max(col("o_custkey")).cast("double"),
      min(col("o_totalprice")), max(col("o_totalprice"))).collect()
    assert((aLo, aHi, bLo, bHi) ==
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // Non-scan shapes refuse footer bounds rather than risk wrong ones.
    assert(DataLayout.footerBounds(
      orders.withColumnRenamed("o_custkey", "ck"), Seq("ck")).isEmpty)
    assert(DataLayout.footerBounds(
      orders.groupBy("o_custkey").count(), Seq("o_custkey")).isEmpty)
    // A computed column REUSING a physical column's name must also refuse:
    // footer stats describe the stored values, not the derived ones.
    assert(DataLayout.footerBounds(
      orders.withColumn("o_totalprice", col("o_totalprice") * 100),
      Seq("o_custkey", "o_totalprice")).isEmpty)
    // Passthrough projection/filter still qualifies.
    assert(DataLayout.footerBounds(
      orders.filter(col("o_orderkey") > 0).select("o_custkey", "o_totalprice"),
      Seq("o_custkey")).isDefined)

    // Job accounting: the footer path must cost exactly as many Spark jobs
    // as caller-supplied bounds (i.e., zero extra), while the fallback
    // pays one blocking min/max aggregation job.
    val meter = graft.core.Meter.on(spark)
    def jobsDuring(f: => Unit): Int = {
      val label = "datalayout-" + java.util.UUID.randomUUID()
      meter.label(label)(f)
      meter.record(label).jobs.size
    }
    try {
      val explicit = jobsDuring(DataLayout.writeClusteredZ(orders, "z_explicit",
        "o_custkey", "o_totalprice",
        bounds = Some(DataLayout.ZBounds(aLo, aHi, bLo, bHi))))
      val footer = jobsDuring(DataLayout.writeClusteredZ(orders, "z_footer",
        "o_custkey", "o_totalprice"))
      val fallback = jobsDuring(DataLayout.writeClusteredZ(
        orders.withColumnRenamed("o_custkey", "ck"), "z_fallback",
        "ck", "o_totalprice"))
      assert(footer == explicit,
        s"footer path ran $footer jobs vs $explicit with explicit bounds")
      assert(fallback > explicit,
        s"fallback ran $fallback jobs, expected more than $explicit (an extra agg pass; AQE may split it into multiple jobs)")
      // and all three layouts hold the same rows
      assert(spark.table("z_footer").count() == orders.count())
    } finally Seq("z_explicit", "z_footer", "z_fallback")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("z-order clustering localizes 2-D box predicates") {
    try {
      val orders = Tables.orders(spark, sf)
      DataLayout.writeClusteredZ(orders, "orders_z",
        "o_custkey", "o_totalprice", bits = 8, numFiles = 8)
      assert(spark.table("orders_z").count() == orders.count())

      // a box tight in BOTH dimensions: z-locality keeps it in few files
      val Array(r) = orders.agg(
        min(col("o_custkey")), max(col("o_custkey")),
        min(col("o_totalprice")), max(col("o_totalprice"))).collect()
      val (kLo, kHi) = (r.getLong(0), r.getLong(1))
      val (pLo, pHi) = (r.getDouble(2), r.getDouble(3))
      val kCut = kLo + (kHi - kLo) / 4
      val pCut = pLo + (pHi - pLo) / 4
      val boxFiles = spark.table("orders_z")
        .filter(col("o_custkey") <= kCut && col("o_totalprice") <= pCut)
        .select(input_file_name()).distinct().count()
      assert(boxFiles <= 3, s"2-D box touched $boxFiles of 8 z-ordered files")

      // the comparative claim: single-key clustering on custkey scatters a
      // totalprice-only predicate across ALL files; z-order keeps even the
      // one-dimensional cut in a strict subset.
      DataLayout.writeClustered(orders, "orders_k", Seq("o_custkey"), 8)
      def filesFor(table: String): Long = spark.table(table)
        .filter(col("o_totalprice") <= pCut)
        .select(input_file_name()).distinct().count()
      assert(filesFor("orders_k") == 8, "baseline should scatter across all files")
      assert(filesFor("orders_z") < 8, "z-order should bound the scatter")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_z")
      spark.sql("DROP TABLE IF EXISTS orders_k")
    }
  }

  test("stale bounds clamp to edge buckets — no z aliasing on either side") {
    try {
      val orders = Tables.orders(spark, sf)
      val Array(r) = orders.agg(
        min(col("o_custkey")).cast("double"), max(col("o_custkey")).cast("double"),
        min(col("o_totalprice")), max(col("o_totalprice"))).collect()
      // Bounds stale on BOTH ends: min sits above a quarter of the data,
      // max below a quarter — rows outside must degrade to the edge
      // buckets (bucket 0 / n-1), not alias via width_bucket's 0/n+1.
      val kLo = r.getDouble(0) + (r.getDouble(1) - r.getDouble(0)) / 4
      val kHi = r.getDouble(1) - (r.getDouble(1) - r.getDouble(0)) / 4
      DataLayout.writeClusteredZ(orders, "z_stale", "o_custkey", "o_totalprice",
        bits = 8, numFiles = 8,
        bounds = Some(DataLayout.ZBounds(kLo, kHi, r.getDouble(2), r.getDouble(3))))
      assert(spark.table("z_stale").count() == orders.count())
      // Below-lo rows must live in the LOW z range: the file(s) holding
      // the global min key must not also hold top-range keys (all-bits-set
      // aliasing would scatter them into the highest-z file).
      val ranges = DataLayout.fileRanges(spark, "z_stale", "o_custkey").collect()
      val minKey = ranges.map(_.getAs[Long]("k_min")).min
      val maxKey = ranges.map(_.getAs[Long]("k_max")).max
      val holdingMin = ranges.filter(_.getAs[Long]("k_min") == minKey)
      assert(holdingMin.forall(_.getAs[Long]("k_max") < maxKey),
        "rows below the stale lower bound aliased into the top-z file")
    } finally spark.sql("DROP TABLE IF EXISTS z_stale")
  }
}
