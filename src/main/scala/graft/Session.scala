package graft

import org.apache.spark.sql.SparkSession

/** The engine's session policy, in one place. Every main and test session
  * is built from here, so batch queries and streaming operators all run on
  * the same settings. */
object Session {
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    // the `Tables` loading contract casts NTZ fixture columns to session-zone
    // timestamps; UTC makes that cast wall-clock identity
    .config("spark.sql.session.timeZone", "UTC")
    // the query suite generates far more than the default 100 codegen
    // cache entries, so every rep regenerated + re-JIT-ed its classes;
    // sized to hold the whole suite's generated classes (SURVEY §8r)
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")
    // the state backend, like Flink's cluster-level RocksDB setting: keyed
    // state lives off-heap for every stateful operator, and
    // `transformWithState` requires it
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** `WindowExec` WARNs "No Partition Defined" on every unpartitioned window;
    * `WindowGuardSpec` proves each such frame bounded, so that logger logs ERROR. */
  def quietUnpartitionedWindows(): Unit = org.apache.logging.log4j.core.config.Configurator
    .setLevel("org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
}
