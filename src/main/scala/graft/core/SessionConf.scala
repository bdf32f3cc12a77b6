package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one writer of session SQL conf. Conf that only a single
  * read, write or stream start needs is set around that call and then
  * restored — a setting left behind would silently change every later
  * query in the session. */
object SessionConf {

  /** Streams whose state lives in RocksDB instead of the default
    * heap-map store (typed state, timers, or wide key spaces). */
  val RocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with `kv` set on `spark`, then restore each key to its
    * previous value (or unset it if it had none), also when `body`
    * throws. A streaming query started inside keeps the conf: it runs in
    * a copy of the session cloned at `start()`. */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
