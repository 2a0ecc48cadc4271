package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.graft.PinnedRelation

/** Pins that keep what the checkpoint knows.
  *
  * `localCheckpoint()` under AQE forgets two facts about the rows it
  * pins. Its relation takes the partitioning of the ADAPTIVE plan node,
  * which is a leaf and reports none, so a later `groupBy` or join on the
  * key the rows are already hashed by plans one more exchange. And it
  * takes the size the optimizer estimated for the plan that built the
  * rows (a self-join's estimate, say), so the planner never broadcasts a
  * small pinned state statically: AQE must first run a shuffle stage to
  * learn its real size.
  */
object Materialize {

  /** `df.localCheckpoint()` — same job, blocks and storage level — whose
    * relation declares:
    *   - the final physical plan's `HashPartitioning`, when its width
    *     equals the checkpoint's partition count. Only an EXPLICIT width
    *     (`repartition(n, key)`) survives: AQE coalesces a bare
    *     `repartition(key)`, and a coalesced read is not a hash
    *     partitioning. Otherwise Spark's own value stays;
    *   - the bytes its blocks hold as `sizeInBytes`, falling back to
    *     Spark's statistics when a block is missing. Pins sized this way
    *     compare with each other in one unit (deserialized rows), so a
    *     round's state and its static side pick the right build side;
    *     an estimate — the product of a join's sides, or a compressed
    *     file's bytes — compares with neither.
    */
  def state(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint()
    val lr = PinnedRelation.relation(pinned)
    // the relation's output carries the plan's attribute ids (Spark's own
    // checkpoint relies on that); a key outside it is not kept
    val keyed = PinnedRelation.ranPlan(df).map(p => firstLeaf(p.outputPartitioning))
      .collect { case h: HashPartitioning if h.numPartitions == lr.rdd.getNumPartitions &&
        h.references.subsetOf(AttributeSet(lr.output)) => h }
    PinnedRelation.rebuild(pinned, keyed.getOrElse(lr.outputPartitioning),
      PinnedRelation.storedBytes(lr).getOrElse(lr.stats.sizeInBytes))
  }

  /** Spark's own rule for a join's output: the first partitioning of a
    * collection stands for it. */
  @annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case p => p
  }
}
