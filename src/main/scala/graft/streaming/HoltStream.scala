package graft.streaming

import org.apache.spark.sql.Dataset

import Exact.{r6, snap12}

/** One Holt snapshot per key per batch — the same columns the q251 batch
  * query reports, so the two are directly comparable.
  */
case class HoltSnapshot(event_type: String, n_days: Long, level: Double,
                        trend: Double, forecast_7d: Double, mae: Double)

/** O(1) per-key fold state: Holt (l, b) over CLOSED days, the running
  * absolute-error sum, the first day's mean (needed to initialize b when
  * day 2 closes), and the open day's exact accumulator.
  */
case class HoltState(nClosed: Long, x1: Double, l: Double, b: Double,
                     sae: Double, curDay: Long, svMicros: Long, cnt: Long)

/** Streaming Holt linear-trend smoothing — the unbounded-stream twin of
  * q251's batch fold. State per series is O(1): the smoothed (level, trend)
  * pair over closed days plus one open-day mean accumulator. A day folds
  * into the Holt recursion the moment a later day's first reading arrives
  * (day rollover IS the window close); the end-of-batch snapshot folds the
  * still-open day as if it were final, so after the same rows under ANY
  * micro-batch slicing the snapshot equals the batch q251 result exactly
  * (HoltStreamSpec asserts it).
  *
  * Determinism: day means accumulate 6-dp-snapped micro-units (the exact
  * long-integer image of the batch plan's decimal(18,6) per-term casts) and
  * every recursion step applies the same `round(x·1e12)/1e12` snap the
  * batch Column expression uses — bit-identical state walks.
  */
object HoltStream {

  /** Fold one closed day's mean into the Holt state (q251's recursion). */
  private[graft] def foldDay(s: HoltState, m: Double): HoltState = {
    if (s.nClosed == 0) s.copy(nClosed = 1, x1 = m)
    else if (s.nClosed == 1) s.copy(nClosed = 2, l = m, b = m - s.x1)
    else {
      val lNew = snap12(0.5 * m + 0.5 * (s.l + s.b))
      val bNew = snap12(0.3 * (lNew - s.l) + 0.7 * s.b)
      val err = snap12(math.abs(m - (s.l + s.b)))
      s.copy(nClosed = s.nClosed + 1, l = lNew, b = bNew, sae = s.sae + err)
    }
  }

  private val days = new DailyMean[HoltState](
    s => (s.curDay, s.svMicros, s.cnt),
    (s, day, sv, n) => s.copy(curDay = day, svMicros = sv, cnt = n))

  private def foldMean(s: HoltState, day: Long, m: Double): HoltState =
    foldDay(s, snap12(m))

  /** End-of-batch view: fold the open day as if final, report q251's
    * columns. Emits nothing until two days of data exist.
    */
  private def snapshot(key: String, s: HoltState): Option[HoltSnapshot] =
    days.closed(s)(foldMean).filter(_.nClosed >= 2).map { fin =>
      val mae = if (fin.nClosed > 2) fin.sae / (fin.nClosed - 2) else 0.0
      HoltSnapshot(key, fin.nClosed, r6(fin.l), r6(fin.b),
        r6(fin.l + 7.0 * fin.b), r6(mae))
    }

  def run(readings: Dataset[SensorReading],
          watermarkDelay: String = "10 minutes"): Dataset[HoltSnapshot] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Unit, HoltState, HoltSnapshot]("holt",
        HoltState(0L, 0.0, 0.0, 0.0, 0.0, Long.MinValue, 0L, 0L),
        ReadingFold.byMicros, ReadingFold.everyKey,
        (_, _, s, r, _) => days.add(s, r)(foldMean),
        (key, _, s) => snapshot(key, s)))
}
