package graft

import graft.sources.Bucketing

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("same-bucketing join plans without a shuffle exchange") {
    val facts = (1L to 1000L).map(k => (k % 50, s"fact$k")).toDF("k", "payload")
    val dims = (0L until 50L).map(k => (k, s"dim$k")).toDF("k", "attr")
    Bucketing.writeBucketed(facts, "graft_bkt_facts", "k", 8)
    Bucketing.writeBucketed(dims, "graft_bkt_dims", "k", 8)
    // disable broadcast so the join would otherwise need a shuffle
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = Bucketing.bucketedJoin(spark, "graft_bkt_facts", "graft_bkt_dims", "k")
      assert(joined.count() === 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join, got:\n$plan")
      // the same join over plain (unbucketed) views DOES shuffle
      facts.createOrReplaceTempView("graft_plain_facts")
      dims.createOrReplaceTempView("graft_plain_dims")
      val plain = spark.table("graft_plain_facts").join(spark.table("graft_plain_dims"), "k")
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_dims")
    }
  }
}
