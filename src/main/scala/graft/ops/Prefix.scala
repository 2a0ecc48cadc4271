package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix aggregation over a TOTAL order — the scale-safe
  * replacement for an unpartitioned `Window.orderBy(...)` (which executes as
  * ONE task holding the whole ordered input). Classic two-pass prefix-sum,
  * the same idiom heapsLaw / seqPacking use, generalized:
  *
  *  1. range-partition the input on the order (each bucket holds a
  *     contiguous slice of the global order),
  *  2. aggregate each bucket to ONE row and compute exclusive per-bucket
  *     offsets with a window over the BUCKET table (bounded by the bucket
  *     count, never the data),
  *  3. broadcast the offsets back and combine with a per-bucket local
  *     window, which is partitioned — every bucket runs in parallel.
  *
  * The result is bit-identical to the single-task window whatever the
  * bucket boundaries, because the order is total (callers must include a
  * unique tie-break column) and prefix-sum/max are associative. The
  * bucketed frame feeds BOTH pass 2 and pass 3, and RangePartitioner
  * samples its boundaries with an RDD-id-derived seed — two independent
  * re-executions of the exchange can disagree on boundaries, which would
  * tear the pid↔offset correspondence (observed: nondeterministic decile
  * counts at sf0.1). So the bucketed frame is pinned by
  * [[Materialize.state]]: ONE materialization of the bounded aggregate,
  * both consumers read the same frozen buckets. (A local pin does not
  * survive a lost executor; ROADMAP item 9 owns that.)
  */
object Prefix {

  /** One prefix aggregate: `out` = fn of `value` over every row at-or-before
    * (inclusive) / strictly-before (exclusive) the current row in the total
    * order. fn: "sum" | "max". Exclusive aggregates are NULL on the global
    * first row, matching the empty-frame semantics of the window they
    * replace. `RowNumber` is sum(1L) inclusive.
    */
  final case class Agg(value: Column, out: String, fn: String = "sum",
                       inclusive: Boolean = true)

  def rowNumber(out: String): Agg = Agg(lit(1L), out, "sum")

  private def fnOf(a: Agg): Column => Column = a.fn match {
    case "sum" => sum
    case "max" => max
    case other => throw new IllegalArgumentException(s"Prefix fn: $other")
  }

  /** Adds one output column per Agg to `df`. `order` must be a total order
    * (include a unique key as the last tie-break).
    */
  def over(df: DataFrame, order: Seq[Column], aggs: Seq[Agg],
           buckets: Int = 32): DataFrame = {
    val pid = "__prefix_pid"
    val bucketed = df.repartitionByRange(buckets, order: _*)
      .withColumn(pid, spark_partition_id())
      .transform(Materialize.state(_))
    val totalCols = aggs.map(a => fnOf(a)(a.value).as(s"__t_${a.out}"))
    val totals = bucketed.groupBy(col(pid))
      .agg(totalCols.head, totalCols.tail: _*)
    // exclusive offsets over the bucket table: <= buckets rows, one task
    val offW = Window.orderBy(col(pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(
      col(pid) +: aggs.map(a =>
        fnOf(a)(col(s"__t_${a.out}")).over(offW).as(s"__off_${a.out}")): _*)
    val wIncl = Window.partitionBy(col(pid)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wExcl = Window.partitionBy(col(pid)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val joined = bucketed.join(broadcast(offsets), Seq(pid))
    aggs.foldLeft(joined) { (acc, a) =>
      val local = fnOf(a)(a.value).over(if (a.inclusive) wIncl else wExcl)
      val off = col(s"__off_${a.out}")
      val combined = a.fn match {
        // greatest() skips NULLs, so this is NULL exactly when both the
        // offset and the local frame are empty — the first global row of an
        // exclusive max, same as the single-task window
        case "max" => greatest(off, local)
        case "sum" =>
          if (a.inclusive) coalesce(off, lit(0L)) + local
          else when(off.isNull && local.isNull, lit(null))
            .otherwise(coalesce(off, lit(0L)) + coalesce(local, lit(0L)))
      }
      acc.withColumn(a.out, combined)
    }.drop(pid +: aggs.map(a => s"__off_${a.out}"): _*)
  }

  /** ntile(k) reconstructed from a (1-based) row number and the total row
    * count — SQL-standard semantics: with n rows the first n%k tiles get
    * ceil(n/k) rows, the rest floor(n/k). Lets a distributed rowNumber
    * replace a single-task ntile window exactly, ties and all.
    */
  def ntileFromRowNumber(rn: Column, n: Column, k: Int): Column = {
    val baseL = floor(n.cast("double") / lit(k.toDouble)).cast("long")
    val rem = n.cast("long") % lit(k.toLong)
    val cut = rem * (baseL + 1) // rows living in the padded tiles
    when(rn <= cut, floor((rn - 1).cast("double") / (baseL + 1).cast("double")) + 1)
      .otherwise(rem + floor((rn - cut - 1).cast("double") / baseL.cast("double")) + 1)
      .cast("int")
  }
}
