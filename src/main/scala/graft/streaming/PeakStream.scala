package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

case class SeriesPoint(event_type: String, ts: Timestamp, event_id: Long,
                       value: Double)
case class PeakWindow(e1: Long, id1: Long, v1: Double,
                      e2: Long, id2: Long, v2: Double, filled: Int)
case class Peak(event_type: String, peak_e: Long, event_id: Long, value: Double)

/** Streaming strict-local-maximum detector — the incremental q162: a point
  * is a peak iff it is strictly above BOTH neighbours, so the verdict for
  * point n is only known once point n+1 arrives. State per series is the
  * last TWO points (O(1) per key, independent of stream length); each
  * arriving point closes the verdict on its predecessor and rolls the
  * pair forward. Batches sort by (full-microsecond ts, event_id) — the
  * same total order the batch census windows on — and state carries the
  * pair across micro-batch boundaries, so a peak straddling batches emits
  * exactly once. Assumes per-key event-time-ordered arrival across batches (the
  * usual replay/backfill discipline; out-of-order input inside one batch
  * is handled by the sort).
  */
object PeakStream {

  def peaks(points: Dataset[SeriesPoint]): Dataset[Peak] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[PeakWindow, Peak](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[SeriesPoint], state: GroupState[PeakWindow]) =>
          val pts = it.toArray.sortBy(p => (StreamTime.micros(p.ts), p.event_id))
          var st = state.getOption.getOrElse(PeakWindow(0, 0, 0, 0, 0, 0, 0))
          var out = List.empty[Peak]
          pts.foreach { p =>
            // floored: no watermark here, so pre-1970 points can arrive
            val e = Math.floorDiv(p.ts.getTime, 1000L)
            if (st.filled == 2 && st.v2 > st.v1 && st.v2 > p.value)
              out ::= Peak(key, st.e2, st.id2, st.v2)
            st =
              if (st.filled == 0) PeakWindow(0, 0, 0, e, p.event_id, p.value, 1)
              else PeakWindow(st.e2, st.id2, st.v2, e, p.event_id, p.value, 2)
          }
          state.update(st)
          out.reverseIterator
      }
  }
}
