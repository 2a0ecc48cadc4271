package graft

/** The specs run on the engine's own session settings, so the plans they
  * check are the plans that are verified and timed. */
class GraftSessionSpec extends SparkSpec {
  test("the spec session carries the engine's settings and SQL functions") {
    val conf = spark.sessionState.conf
    assert(conf.autoBroadcastJoinThreshold === 64L * 1024 * 1024)
    assert(conf.sessionLocalTimeZone === "UTC")
    assert(conf.stateStoreProviderClass ===
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") === "true")
    val row = spark.sql(
      "SELECT decimal_dot(array(0.1D, 0.2D), array(0.3D, 0.4D)) d, " +
        "size(rolling_hash('abcdefghij', 4)) n").head()
    assert(row.getDouble(0) === 0.11)
    assert(row.getInt(1) === 7)
  }
}
