package graft.core

import graft.SparkSpec

/** Session-hygiene contract for the nanos-timestamp events read, the
  * per-session schema cache, and `spread`. */
class TablesSpec extends SparkSpec {

  test("events read leaves nanosAsLong untouched; deferred execution works") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val df = Tables.events(spark, sf) // lazy — no action yet
    // The scoped conf must be restored as soon as the relation is created...
    assert(spark.conf.getOption(key) == prev)
    // ...and the later execution must still read the NANOS column fine.
    assert(df.count() > 0)
    assert(df.schema("ts").dataType.typeName == "timestamp")
    assert(spark.conf.getOption(key) == prev)
  }

  test("a table's schema is inferred once per file version; a rewritten file again") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val meter = Meter.on(spark)
    def jobsDuring(f: => Any): Int = {
      val label = "tables-schema-" + java.util.UUID.randomUUID()
      meter.label(label)(f)
      meter.record(label).jobs.size
    }
    val dir = tmpDir("graft-tables-schema")
    // one parquet file named like a fixture table, from a Spark write
    def stage(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = s"$dir/out-${java.util.UUID.randomUUID()}"
      df.coalesce(1).write.parquet(out)
      val part = Files.list(Paths.get(out)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      Files.move(part, Paths.get(s"$dir/t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    stage(spark.range(3).toDF("a"))
    assert(jobsDuring(Tables.load(spark, dir, "t")) == 1)
    assert(jobsDuring(Tables.load(spark, dir, "t")) == 0)
    stage(spark.range(3).selectExpr("id AS a", "id * 2 AS b"))
    var t: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { t = Tables.load(spark, dir, "t") } == 1)
    assert(t.columns.toSeq == Seq("a", "b"))
    assert(t.orderBy("a").collect().map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L))
  }

  test("spread parallelizes an under-split source and no-ops a wide one") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val narrow = (1 to 1000).toDF("x").coalesce(1)
    val s = Tables.spread(narrow)
    assert(s.rdd.getNumPartitions == cores)
    assert(s.count() == 1000)
    val wide = (1 to 1000).toDF("x").repartition(cores + 4)
    // already >= cores: must return the input plan unchanged (no extra
    // exchange at real scale)
    assert(Tables.spread(wide) eq wide)
  }
}
