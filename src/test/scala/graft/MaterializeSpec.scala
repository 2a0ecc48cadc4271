package graft

import graft.ops.Materialize
import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Listeners, PinnedRelation}
import org.apache.spark.storage.{BlockStatus, RDDBlockId}
import scala.jdk.CollectionConverters._

class MaterializeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def keyed(width: Int): DataFrame =
    (0L until 400L).map(i => (i % 37, i)).toDF("k", "x").repartition(width, $"k")

  private def shuffles(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }.size

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def sumByKey(df: DataFrame): DataFrame = df.groupBy("k").agg(sum("x").as("s"))

  /** The local block manager's status of each of the pin's blocks. */
  private def blocks(pinned: DataFrame): Seq[BlockStatus] = {
    val rdd = PinnedRelation.relation(pinned).rdd
    rdd.partitions.indices.flatMap { i =>
      SparkEnv.get.blockManager.getStatus(RDDBlockId(rdd.id, i))
    }
  }

  /** Bytes the local block manager stores for the pin's blocks. */
  private def pinnedBytes(pinned: DataFrame): Long =
    blocks(pinned).map(s => s.memSize + s.diskSize).sum

  private def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Listeners.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; Listeners.drain(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("an explicit-width pin keeps its hash partitioning; a groupBy on the key plans no exchange") {
    val pinned = Materialize.state(keyed(6))
    PinnedRelation.relation(pinned).outputPartitioning match {
      case HashPartitioning(Seq(k: Attribute), 6) => assert(k.name === "k")
      case other => fail(s"partitioning not kept: $other")
    }
    assert(shuffles(sumByKey(pinned)) === 0)
    // the plain checkpoint under AQE forgets it and re-exchanges
    assert(shuffles(sumByKey(keyed(6).localCheckpoint())) === 1)
    assert(rows(sumByKey(pinned)) === rows(sumByKey(keyed(6))))
  }

  test("a bare, AQE-coalesced repartition falls back and keeps its rows") {
    val bare = (0L until 400L).map(i => (i % 37, i)).toDF("k", "x").repartition($"k")
    val pinned = Materialize.state(bare)
    val lr = PinnedRelation.relation(pinned)
    // AQE coalesced the four shuffle partitions of these few rows
    assert(lr.rdd.getNumPartitions < spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(!lr.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(rows(pinned) === rows(bare))
    assert(rows(sumByKey(pinned)) === rows(sumByKey(bare)))
  }

  test("the pin's size is its stored bytes, so a small join result broadcasts statically") {
    // an inner join's estimate is the product of its sides' sizes: far
    // above the broadcast threshold for two ~20 kB sides
    val side = (0L until 1000L).map(i => (i, i * 3)).toDF("k", "x")
    val joined = side.join(side.withColumnRenamed("x", "y"), "k")
    val plain = joined.localCheckpoint()
    val pinned = Materialize.state(joined)
    val size = PinnedRelation.relation(pinned).stats.sizeInBytes
    assert(size > 0 && size <= pinnedBytes(pinned))
    val threshold = 1L << 20
    withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
      assert(size < threshold)
      assert(PinnedRelation.relation(plain).stats.sizeInBytes > threshold)
      // a probe side estimated above the threshold, so only the state can build
      val probe = spark.range(0L, 200000L).toDF("k")
      def broadcasts(state: DataFrame): Int =
        collect(probe.join(state, "k").queryExecution.executedPlan) {
          case b: BroadcastHashJoinExec => b }.size
      assert(broadcasts(pinned) === 1)
      assert(broadcasts(plain) === 0)
      assert(rows(probe.join(pinned, "k")) === rows(probe.join(plain, "k")))
    }
  }

  test("the pin starts no more jobs than localCheckpoint") {
    val plain = jobsOf(keyed(6).groupBy("k").agg(max("x")).localCheckpoint())
    val pinned = jobsOf(Materialize.state(keyed(6).groupBy("k").agg(max("x"))))
    assert(plain >= 1)
    assert(pinned <= plain)
  }

  test("results and kept partitioning are the same with AQE off") {
    val on = rows(sumByKey(Materialize.state(keyed(6))))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val pinned = Materialize.state(keyed(6))
      assert(PinnedRelation.relation(pinned).outputPartitioning
        .isInstanceOf[HashPartitioning])
      assert(shuffles(sumByKey(pinned)) === 0)
      assert(rows(sumByKey(pinned)) === on)
      val bare = (0L until 400L).map(i => (i % 37, i)).toDF("k", "x").repartition($"k")
      assert(rows(Materialize.state(bare)) === rows(bare))
    }
  }

  test("two references of a kept-partitioning pin share their exchanges") {
    // a self-join re-instances one side; its partitioning must still
    // canonicalize like the other side's, or AQE reuses no exchange
    def twice(p: DataFrame): DataFrame = {
      val rare = p.groupBy("x").agg(count(lit(1)).as("c")).where($"c" <= 1)
      p.join(rare, "x").select("k").union(p.join(rare.select("x"), "x").select("k"))
    }
    def reused(df: DataFrame): Int = {
      df.collect() // AQE reuses exchanges while it runs the plan
      collect(df.queryExecution.executedPlan) { case r: ReusedExchangeExec => r }.size
    }
    val pinned = Materialize.state(keyed(6))
    assert(PinnedRelation.relation(pinned).outputPartitioning.isInstanceOf[HashPartitioning])
    assert(reused(twice(pinned)) >= 1)
    assert(reused(twice(pinned)) === reused(twice(keyed(6).localCheckpoint())))
    assert(rows(twice(pinned)) === rows(twice(keyed(6))))
  }

  test("an onDisk pin holds every block on disk and declares those bytes") {
    val pinned = Materialize.state(keyed(6), onDisk = true)
    val held = blocks(pinned)
    assert(held.size === 6)
    held.foreach { b =>
      assert(b.memSize === 0L)
      assert(b.diskSize > 0L)
    }
    assert(PinnedRelation.relation(pinned).stats.sizeInBytes === held.map(_.diskSize).sum)
    assert(rows(sumByKey(pinned)) === rows(sumByKey(keyed(6))))
  }

  test("Materialize is the only pin in the main sources") {
    // the plain-pin path stays deleted: PinnedRelation only names it in docs
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources under $root")
    val allowed = Set("Materialize.scala", "PinnedRelation.scala")
    val stream = java.nio.file.Files.walk(root)
    val offenders = try {
      stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("localCheckpoint(") => s"$p:${i + 1}"
          }
        }
    } finally stream.close()
    assert(offenders.isEmpty, s"plain pins outside Materialize: ${offenders.mkString(", ")}")
  }
}
