package graft
import graft.core.{JsonText, Meter, SparkSessionFactory}

/** One sequential cold pass over the named gate queries (or every query
  * matching a prefix list), printing one JSON line per query with its
  * wall-clock cost — the tool behind BASELINE.md's "cold, sf0.1" cost
  * notes. First row carries JVM/codegen warmup, as documented there.
  *
  * Each query runs the way Verify runs it: `coalesce(1)` over the built
  * DataFrame, then a write, here to the `noop` sink. A `count()` would
  * let the optimizer drop the query's final sort, and with it the sort's
  * jobs.
  *
  * Each line also carries what the query ran, from [[Meter]]: every Spark
  * job (id, stage count, wall, call site), stage and task counts, shuffle
  * bytes, spill, and one progress JSON per micro-batch of the streams it
  * started (`durationMs` phases, state-operator commit times).
  *
  * Run: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QueryTime q115,q116"`
  * An optional second arg repeats the whole pass N times (pass 1 is the
  * cold row; later passes approximate the bench's warm protocol). After
  * the passes, one line per query gives its job count in every pass and
  * the most frequent one: the count can differ by one between passes of
  * the same build, so one pass is no evidence of a changed count.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val prefixes = if (args.nonEmpty) args(0).split(",").toSeq else Seq("q")
    val passes = if (args.length > 1) args(1).toInt else 1
    val spark = SparkSessionFactory.localFromEnv("graft-query-time")
    spark.sparkContext.setLogLevel("ERROR")
    // cold rows measured the way Verify/Bench run them (round 16)
    graft.operators.Multimodal.preJitCodecs()
    val meter = Meter.on(spark)
    val picked = SparkEntry.modules
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    val jobCounts = (1 to passes).flatMap { pass =>
      picked.map { case (name, d) =>
        val label = s"$name#$pass"
        val t0 = System.nanoTime()
        meter.label(label)(d.build(spark, sfDir).coalesce(1)
          .write.format("noop").mode("overwrite").save())
        val sec = (System.nanoTime() - t0) / 1e9
        val r = meter.record(label)
        println(f"""{"query":"$name","pass":$pass,"sec":$sec%.3f,""" + fields(r) + "}")
        name -> r.jobs.size
      }
    }
    jobCounts.groupMap(_._1)(_._2).toSeq.sortBy(_._1).foreach { case (name, counts) =>
      println(s"""{"query":"$name","jobs_per_pass":${counts.mkString("[", ",", "]")},""" +
        s""""jobs_modal":${modal(counts)}}""")
    }
    spark.stop()
  }

  /** The most frequent value; the smallest among equally frequent ones. */
  private[graft] def modal(xs: Seq[Int]): Int =
    xs.groupBy(identity).toSeq.minBy { case (x, hits) => (-hits.size, x) }._1

  /** A record as JSON object members; `batches` are Spark's own progress
    * JSON, one per micro-batch. */
  private def fields(r: Meter.Record): String = {
    val jobs = r.jobs.map(j =>
      f"""{"id":${j.id},"stages":${j.stages},"sec":${j.sec}%.3f,"desc":${JsonText.quote(j.description)}}""")
    s""""jobs":${jobs.mkString("[", ",", "]")},"stages":${r.stages},"tasks":${r.tasks},""" +
      s""""shuffle_read":${r.shuffleRead},"shuffle_write":${r.shuffleWrite},""" +
      s""""spill":{"mem":${r.memorySpill},"disk":${r.diskSpill}},""" +
      s""""batches":${r.batches.mkString("[", ",", "]")}"""
  }
}
