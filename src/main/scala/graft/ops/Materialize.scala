package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.graft.PinnedRelation
import org.apache.spark.storage.StorageLevel

/** The one pin: every checkpoint graft's operators take goes through here.
  *
  * `localCheckpoint()` under AQE forgets two facts about the rows it
  * pins. Its relation takes the partitioning of the ADAPTIVE plan node,
  * which is a leaf and reports none, so a later `groupBy` or join on the
  * key the rows are already hashed by plans one more exchange. And it
  * takes the size the optimizer estimated for the plan that built the
  * rows (a self-join's estimate, say), so the planner never broadcasts a
  * small pinned state statically: AQE must first run a shuffle stage to
  * learn its real size.
  *
  * Blocks stay in memory (disk on eviction) unless `onDisk`: state that
  * grows with the corpus pins to disk, because at the sf100 rehearsal
  * (BASELINE_sf100.md) heap-pinned corpus×d PQ tables starved the
  * broadcast builds their joins need. Heap is scarce at scale, disk is not.
  */
object Materialize {

  /** `df.localCheckpoint()` — same job and blocks; disk-only blocks when
    * `onDisk` — whose relation declares:
    *   - the final physical plan's `HashPartitioning`, when its width
    *     equals the checkpoint's partition count. Only an EXPLICIT width
    *     (`repartition(n, key)`) survives: AQE coalesces a bare
    *     `repartition(key)`, and a coalesced read is not a hash
    *     partitioning. Otherwise Spark's own value stays;
    *   - the bytes its blocks hold as `sizeInBytes`, falling back to
    *     Spark's statistics when a block is missing: the estimated size
    *     of the deserialized rows in memory, or the serialized bytes of an
    *     `onDisk` pin (usually fewer for the same rows). Memory pins thus
    *     compare in one unit, so a round's state and its static side pick
    *     the right build side; an estimate — the product of a join's
    *     sides, or a compressed file's bytes — compares with neither.
    */
  def state(df: DataFrame, onDisk: Boolean = false): DataFrame = {
    val pinned = if (onDisk) df.localCheckpoint(eager = true, StorageLevel.DISK_ONLY)
      else df.localCheckpoint()
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
