package graft.streaming

import org.apache.spark.sql.Dataset

import Exact.{r6, snap12}

/** One Kalman snapshot per key per batch — the same columns the q287 batch
  * query reports, so the two are directly comparable.
  */
case class KalmanSnapshot(event_type: String, n_days: Long, level: Double,
                          p_var: Double, gain: Double,
                          mean_abs_innov: Double)

/** O(1) per-key fold state: the filtered (x, p, k) over closed days, the
  * running absolute-innovation sum, and the open day's exact accumulator.
  */
case class KalmanState(nClosed: Long, x: Double, p: Double, k: Double,
                       sae: Double, curDay: Long, svMicros: Long, cnt: Long)

/** Streaming 1-D Kalman filter (local-level, q=0.1, r=1.0) — the
  * unbounded-stream twin of q287's batch fold and the adaptive-gain member
  * of the streaming smoother family (HoltStream, HoltWintersStream,
  * SavGolStream). State per series is O(1); a day folds through the filter
  * recursion the moment a later day's first reading arrives, and the
  * end-of-batch snapshot folds the still-open day as if final — so after
  * the same rows under ANY micro-batch slicing the snapshot equals the
  * batch q287 result exactly (KalmanStreamSpec asserts it across three
  * slicings). Same micro-unit day means and 1e-12 snaps as the batch plan.
  */
object KalmanStream {

  /** Fold one closed day's mean into the filter (q287's recursion). */
  private[graft] def foldDay(s: KalmanState, m: Double): KalmanState = {
    if (s.nClosed == 0) s.copy(nClosed = 1, x = m, p = 1.0, k = 0.0)
    else {
      val k1 = snap12((s.p + 0.1) / (s.p + 1.1))
      val xNew = snap12(s.x + k1 * (m - s.x))
      val pNew = snap12((1.0 - k1) * (s.p + 0.1))
      val err = snap12(math.abs(m - s.x))
      s.copy(nClosed = s.nClosed + 1, x = xNew, p = pNew, k = k1,
        sae = s.sae + err)
    }
  }

  private val days = new DailyMean[KalmanState](
    s => (s.curDay, s.svMicros, s.cnt),
    (s, day, sv, n) => s.copy(curDay = day, svMicros = sv, cnt = n))

  private def foldMean(s: KalmanState, day: Long, m: Double): KalmanState =
    foldDay(s, snap12(m))

  /** End-of-batch view: fold the open day as if final, report q287's
    * columns. Emits nothing until two days of data exist.
    */
  private def snapshot(key: String, s: KalmanState): Option[KalmanSnapshot] =
    days.closed(s)(foldMean).filter(_.nClosed >= 2).map { fin =>
      KalmanSnapshot(key, fin.nClosed, r6(fin.x), r6(fin.p), r6(fin.k),
        r6(fin.sae / (fin.nClosed - 1)))
    }

  def run(readings: Dataset[SensorReading],
          watermarkDelay: String = "10 minutes"): Dataset[KalmanSnapshot] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Unit, KalmanState, KalmanSnapshot]("kalman",
        KalmanState(0L, 0.0, 0.0, 0.0, 0.0, Long.MinValue, 0L, 0L),
        ReadingFold.byMicros, ReadingFold.everyKey,
        (_, _, s, r, _) => days.add(s, r)(foldMean),
        (key, _, s) => snapshot(key, s)))
}
