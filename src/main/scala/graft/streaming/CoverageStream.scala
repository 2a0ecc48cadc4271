package graft.streaming

import org.apache.spark.sql.Dataset

/** One coverage snapshot per key per batch — the same columns the q290
  * batch query reports, so the two are directly comparable.
  */
case class CoverageSnapshot(event_type: String, n_intervals: Long,
                            n_merged: Long, covered_sec: Long,
                            merge_ratio: Double)

/** O(1) per-key sweep state: the OPEN merged segment [segStart, segEnd),
  * totals over CLOSED segments, and the raw interval count. lastS/lastE
  * hold the most recent interval's endpoints for the in-order guard.
  */
case class CoverageState(segStart: Long, segEnd: Long, closedSec: Long,
                         nClosed: Long, nIntervals: Long,
                         lastS: Long, lastE: Long)

/** Streaming interval-union coverage — the unbounded-stream twin of q290's
  * batch sweep. Each reading projects an active window [ts, ts+len); state
  * per series is O(1): the one open merged segment plus closed totals. A
  * new interval either extends the open segment (s <= segEnd) or closes it
  * and opens a fresh one; the end-of-batch snapshot counts the open
  * segment as if final, so after the same rows under ANY micro-batch
  * slicing the snapshot equals the batch q290 result exactly
  * (CoverageStreamSpec asserts it across three slicings). Intervals
  * arriving out of order WITHIN a batch are replay-sorted; across batches,
  * an interval sorting before the last processed one is dropped (the
  * watermark bounds that lateness), mirroring the batch sweep's total
  * (s, e) order. All integer seconds.
  */
object CoverageStream {

  private def step(s: CoverageState, r: SensorReading,
                   lenSec: Int): CoverageState = {
    val start = StreamTime.seconds(r.ts)
    val end = start + lenSec
    // in-order guard: same (s, e) total order as the batch sweep
    if (s.nIntervals == 0L
      || start > s.lastS || (start == s.lastS && end >= s.lastE)) {
      val merged =
        if (s.segStart == Long.MinValue) s.copy(segStart = start, segEnd = end)
        else if (start > s.segEnd)
          s.copy(closedSec = s.closedSec + (s.segEnd - s.segStart),
            nClosed = s.nClosed + 1, segStart = start, segEnd = end)
        else if (end > s.segEnd) s.copy(segEnd = end)
        else s
      merged.copy(nIntervals = merged.nIntervals + 1, lastS = start,
        lastE = end)
    } else s
  }

  private def snapshot(key: String,
                       s: CoverageState): Option[CoverageSnapshot] =
    if (s.nIntervals == 0L) None
    else {
      val covered = s.closedSec + (s.segEnd - s.segStart)
      val merged = s.nClosed + 1
      Some(CoverageSnapshot(key, s.nIntervals, merged, covered,
        math.round(merged.toDouble / s.nIntervals * 10000) / 10000.0))
    }

  def run(readings: Dataset[SensorReading], lenSec: Int = 1800,
          watermarkDelay: String = "10 minutes"): Dataset[CoverageSnapshot] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Unit, CoverageState, CoverageSnapshot]("cov",
        CoverageState(Long.MinValue, Long.MinValue, 0L, 0L, 0L,
          Long.MinValue, Long.MinValue),
        ReadingFold.bySeconds, ReadingFold.everyKey,
        (_, _, s, r, _) => step(s, r, lenSec),
        (key, _, s) => snapshot(key, s)))
}
