package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main and spec gets its session
  * here, so the plans that are verified, timed, explained and benchmarked
  * are the same plans.
  *
  * Settings that differ from Spark's defaults: the graft extensions, UTC
  * (oracle parity), a 64 MB broadcast threshold, and the RocksDB state
  * store, which `transformWithState` streams require. AQE with coalesce and
  * skew-join handling and parquet filter pushdown are Spark's defaults.
  * Shuffle partitions are sized to local cores; on a real cluster this is
  * set per deployment.
  */
object GraftSession {
  /** Local cores to use: `SPARK_GRAFT_CPUS`, else the machine's count. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def getOrCreate(
      master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
