package graft
import graft.core.SparkSessionFactory
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSessionFactory.localFromEnv("graft-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(false)
    spark.stop()
  }
}
