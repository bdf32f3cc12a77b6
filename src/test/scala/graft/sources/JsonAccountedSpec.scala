package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

class JsonAccountedSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  /** The accounted read, composed from the pieces the ingest stream uses. */
  private def readAccounted(dir: String, schema: StructType) =
    spark.read.options(JsonBatchReader.AccountedOptions)
      .schema(JsonBatchReader.accountedSchema(schema)).json(dir)

  private def stage(lines: Seq[String]): String = {
    val dir = tmpDir("json_acct")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "batch.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("malformed lines land in quarantine with their raw text; good rows survive untouched") {
    val dir = stage(Seq(
      """{"id": 1, "name": "ok"}""",
      """{"id": 2 "name": "missing comma"}""",
      """{"id": 3, "name": "fine"}""",
      """not json at all"""))
    JsonBatchReader.withSplitAccounted(
        readAccounted(dir, schema)) { (good, bad) =>
      assert(good.as[(Long, String)].collect().sortBy(_._1).toSeq ==
        Seq((1L, "ok"), (3L, "fine")))
      val raw = bad.select(JsonBatchReader.CorruptCol).as[String].collect().toSet
      assert(raw == Set("""{"id": 2 "name": "missing comma"}""", "not json at all"))
    }
  }

  test("a clean batch quarantines nothing and the marker column is stripped") {
    val dir = stage(Seq("""{"id": 7, "name": "x"}"""))
    JsonBatchReader.withSplitAccounted(
        readAccounted(dir, schema)) { (good, bad) =>
      assert(bad.count() == 0)
      assert(good.columns.toSeq == Seq("id", "name"))
    }
  }

  test("a schema already claiming the marker column is rejected loudly") {
    val clash = schema.add(JsonBatchReader.CorruptCol, StringType)
    intercept[IllegalArgumentException] {
      readAccounted("/tmp/unused", clash)
    }
  }

  test("the reference's schemaless read silently nulls what readAccounted quarantines") {
    // The behavioral delta this API exists for: same malformed line,
    // inference path loses it silently (all-null row or dropped),
    // accounted path preserves the raw bytes.
    val dir = stage(Seq(
      """{"id": 1, "name": "ok"}""",
      """not json at all"""))
    val inferred = JsonBatchReader.read(spark, Seq(dir), None)
    // inferred schema gains _corrupt_record implicitly ONLY when Spark
    // chooses to; the explicit-schema read without the marker nulls all
    val silent = JsonBatchReader.read(spark, Seq(dir), Some(schema))
    assert(silent.filter($"id".isNull && $"name".isNull).count() == 1)
    JsonBatchReader.withSplitAccounted(
        readAccounted(dir, schema)) { (_, bad) =>
      assert(bad.count() == 1)
    }
    assert(inferred.count() >= 1) // reference path parses, shape varies
  }
}
