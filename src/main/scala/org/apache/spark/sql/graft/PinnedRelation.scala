package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.RDDBlockId

/** The Spark-internal half of `graft.ops.Materialize`: reads what a
  * `localCheckpoint()` knows but drops, and rebuilds the checkpoint's
  * `LogicalRDD` with it. It lives in Spark's package because
  * `classic.Dataset.ofRows` and the `LogicalRDD` constructor are
  * `private[sql]`; the policy (which facts to keep) stays in graft.
  */
object PinnedRelation {

  /** The physical plan `df` ran with: AQE's final plan once every stage
    * has run (the eager checkpoint runs them all), the plan itself
    * without AQE. None for an adaptive plan that is not final — reading
    * its final plan would run stages. */
  def ranPlan(df: DataFrame): Option[SparkPlan] = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => if (a.isFinalPlan) Some(a.executedPlan) else None
    case p => Some(p)
  }

  /** The checkpoint relation behind a `localCheckpoint()` result. */
  def relation(pinned: DataFrame): LogicalRDD = pinned.queryExecution.logical match {
    case lr: LogicalRDD => lr
    case other => throw new IllegalArgumentException(
      s"not a checkpointed relation: ${other.nodeName}")
  }

  /** Memory plus disk bytes the block manager master holds for the
    * checkpoint's blocks, summed over partitions; None when a partition
    * has no stored block. A task reports its block to the master before
    * it ends, so this is complete once the checkpoint job has returned;
    * the status store behind `getRDDStorageInfo` is fed through the
    * listener bus instead, which can run behind the job. */
  def storedBytes(lr: LogicalRDD): Option[BigInt] = {
    val master = SparkEnv.get.blockManager.master
    val perPartition = lr.rdd.partitions.indices.map { i =>
      master.getBlockStatus(RDDBlockId(lr.rdd.id, i), askStorageEndpoints = false)
        .values.map(s => BigInt(s.memSize) + BigInt(s.diskSize)).maxOption
    }
    if (perPartition.forall(_.isDefined)) Some(perPartition.flatten.sum) else None
  }

  /** `pinned` over the same blocks, its relation declaring `partitioning`
    * and `sizeInBytes` instead of what the checkpoint recorded. */
  def rebuild(pinned: DataFrame, partitioning: Partitioning,
              sizeInBytes: BigInt): DataFrame = {
    val lr = relation(pinned)
    val session = pinned.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      lr.copy(outputPartitioning = partitioning)(
        session, Some(Statistics(sizeInBytes)), Some(lr.constraints)))
  }
}

/** Plans pins that keep a hash partitioning as [[PinnedScanExec]]s. */
object PinnedScan extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LogicalRDD(out, rdd, h: HashPartitioning, ordering, false, _) =>
      new PinnedScanExec(out, rdd, "ExistingRDD", h, ordering, None) :: Nil
    case _ => Nil
  }
}

/** Spark's checkpoint scan, canonicalized with its partitioning normalized
  * too: Spark keeps a leaf partitioning's attribute ids, so the two sides of
  * a self-join on one pin canonicalize apart and share no exchange. */
class PinnedScanExec(out: Seq[Attribute], rdd: RDD[InternalRow], name: String,
                     partitioning: HashPartitioning, ordering: Seq[SortOrder],
                     stream: Option[SparkDataStream])
    extends RDDScanExec(out, rdd, name, partitioning, ordering, stream) {
  override def doCanonicalize(): SparkPlan = super.doCanonicalize().asInstanceOf[RDDScanExec]
    .copy(outputPartitioning = QueryPlan.normalizeExpressions(partitioning, AttributeSeq(out)))
}
