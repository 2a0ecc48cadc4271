package graft.streaming

import org.apache.spark.sql.Dataset

/** One running extremal-index verdict per key per batch — q368's columns. */
case class ExtremalSnapshot(event_type: String, n_exceed: Long,
                            n_clusters: Long, max_cluster: Long,
                            theta: Double, mean_cluster: Double)

/** O(1) per-key fold state: the runs-declustering counters over closed
  * days plus the open day's exact 6-dp micro-unit accumulator.
  */
case class ExtremalState(lastExcDay: Long, nExceed: Long, nClusters: Long,
                         maxRun: Long, curRun: Long, curDay: Long,
                         svMicros: Long, cnt: Long)

/** Streaming extremal-index monitor — the unbounded-stream twin of q368's
  * runs declustering (ops/ExtremeStats.scala `extremalIndex`). Thresholds
  * are a broadcast input (the batch plan's exact per-series q90 — an
  * unbounded stream cannot know its own quantiles), `sep` the same gap
  * rule. Each closed day's mean compares against the fence; exceedance
  * days extend or open clusters exactly as the batch lag-window does. The
  * end-of-batch snapshot folds the still-open day as if final, so after
  * the same rows under ANY micro-batch slicing the snapshot equals batch
  * `extremalIndex` run with the same fences (ExtremalStreamSpec, 3
  * slicings).
  *
  * This is the monitor a reliability team actually runs: θ collapsing
  * toward 0 means extremes have started arriving in storms — the
  * alert-fatigue regime — and the streaming form sees the collapse the
  * day it happens instead of at the next batch audit.
  */
object ExtremalStream {

  /** Fold one closed day's mean through the batch declustering rule. */
  private[graft] def foldDay(st: ExtremalState, day: Long, m: Double,
                             thr: Double, sep: Int): ExtremalState = {
    if (!(m > thr)) st
    else {
      val newCluster = st.lastExcDay == Long.MinValue ||
        day - st.lastExcDay > sep
      val run = if (newCluster) 1L else st.curRun + 1L
      st.copy(lastExcDay = day, nExceed = st.nExceed + 1,
        nClusters = if (newCluster) st.nClusters + 1 else st.nClusters,
        maxRun = math.max(st.maxRun, run), curRun = run)
    }
  }

  private val days = new DailyMean[ExtremalState](
    s => (s.curDay, s.svMicros, s.cnt),
    (s, day, sv, n) => s.copy(curDay = day, svMicros = sv, cnt = n))

  /** End-of-batch view: fold the open day as if final, report q368's
    * row for this series (nothing until the first exceedance).
    */
  private def snapshot(key: String, s: ExtremalState, thr: Double,
                       sep: Int): Option[ExtremalSnapshot] =
    days.closed(s)(foldDay(_, _, _, thr, sep)).filter(_.nExceed > 0)
      .map { fin =>
        ExtremalSnapshot(key, fin.nExceed, fin.nClusters, fin.maxRun,
          Exact.r4(fin.nClusters.toDouble / fin.nExceed),
          Exact.r4(fin.nExceed.toDouble / fin.nClusters))
      }

  def run(readings: Dataset[SensorReading],
          thresholds: Map[String, Double], sep: Int = 2,
          watermarkDelay: String = "10 minutes"): Dataset[ExtremalSnapshot] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Double, ExtremalState, ExtremalSnapshot]("extremal",
        ExtremalState(Long.MinValue, 0L, 0L, 0L, 0L, Long.MinValue, 0L, 0L),
        ReadingFold.byMicros, thresholds.get,
        (_, thr, s, r, _) => days.add(s, r)(foldDay(_, _, _, thr, sep)),
        (key, thr, s) => snapshot(key, s, thr, sep)))
}
