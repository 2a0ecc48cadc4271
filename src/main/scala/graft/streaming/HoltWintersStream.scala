package graft.streaming

import org.apache.spark.sql.Dataset

import Exact.{r6, snap12}

/** One Holt-Winters snapshot per key per batch — the same columns the q273
  * batch query reports, so the two are directly comparable.
  */
case class HwSnapshot(event_type: String, n_days: Long, level: Double,
                      trend: Double, forecast_1: Double,
                      s_amplitude: Double, mae: Double)

/** O(1) per-key fold state: the first up-to-14 closed-day means (held only
  * until initialization), the Holt-Winters (l, b, s0..s6) over closed days,
  * the running absolute-error sum, and the open day's exact accumulator.
  * `nClosed` doubles as the 0-based ordinal position of the last consumed
  * day — the batch fold's `acc.i`.
  */
case class HwState(nClosed: Long, init: Seq[Double], l: Double, b: Double,
                   s: Seq[Double], sae: Double, curDay: Long,
                   svMicros: Long, cnt: Long)

/** Streaming Holt–Winters additive triple smoothing (α=0.4, β=0.2, γ=0.3,
  * weekly period) — the unbounded-stream twin of q273's batch fold, closing
  * the smoother trilogy beside HoltStream (q251) and SavGolStream (q252).
  * State per series is O(1): 7 seasonal slots + (level, trend) over closed
  * days plus one open-day mean accumulator; the first 14 day means are held
  * verbatim until the textbook two-week initialization fires (l₀ = week-1
  * mean, b₀ = (week-2 − week-1 mean)/7, sᵢ = xᵢ − l₀), after which each day
  * folds through the recursion the moment a later day's first reading
  * arrives. The end-of-batch snapshot folds the still-open day as if final,
  * so after the same rows under ANY micro-batch slicing the snapshot equals
  * the batch q273 result exactly (HoltWintersStreamSpec asserts it across
  * three slicings).
  *
  * Determinism: day means accumulate 6-dp-snapped micro-units (the exact
  * long-integer image of the batch plan's decimal(18,6) per-term casts) and
  * every state component applies the same `round(x·1e12)/1e12` snap the
  * batch Column expression uses — bit-identical state walks.
  */
object HoltWintersStream {

  /** Fold one closed day's mean into the state: collect until 14 days,
    * initialize on the 14th, then walk q273's snapped recursion.
    */
  private[graft] def foldDay(st: HwState, m: Double): HwState = {
    if (st.nClosed < 14) {
      val xs = st.init :+ m
      if (xs.length < 14) st.copy(nClosed = st.nClosed + 1, init = xs)
      else {
        // batch init: w1/w2 are left-associated 7-term sums / 7.0, snapped
        val w1 = snap12(xs.take(7).sum / 7.0)
        val w2 = snap12(xs.slice(7, 14).sum / 7.0)
        st.copy(nClosed = 14, init = Nil,
          l = w1, b = snap12((w2 - w1) / 7.0),
          s = xs.take(7).map(x => snap12(x - w1)), sae = 0.0)
      }
    } else {
      val slot = (st.nClosed % 7).toInt
      val sv = st.s(slot)
      val lNew = snap12(0.4 * (m - sv) + 0.6 * (st.l + st.b))
      val bNew = snap12(0.2 * (lNew - st.l) + 0.8 * st.b)
      val sNew = snap12(0.3 * (m - lNew) + 0.7 * sv)
      val err = snap12(math.abs(m - (st.l + st.b + sv)))
      st.copy(nClosed = st.nClosed + 1, l = lNew, b = bNew,
        s = st.s.updated(slot, sNew), sae = st.sae + err)
    }
  }

  private val days = new DailyMean[HwState](
    s => (s.curDay, s.svMicros, s.cnt),
    (s, day, sv, n) => s.copy(curDay = day, svMicros = sv, cnt = n))

  private def foldMean(s: HwState, day: Long, m: Double): HwState =
    foldDay(s, snap12(m))

  /** End-of-batch view: fold the open day as if final, report q273's
    * columns. Emits nothing until 14 days of data exist.
    */
  private def snapshot(key: String, s: HwState): Option[HwSnapshot] =
    days.closed(s)(foldMean).filter(_.nClosed >= 14).map { fin =>
      val mae = if (fin.nClosed > 14) fin.sae / (fin.nClosed - 14) else 0.0
      val slot = (fin.nClosed % 7).toInt
      HwSnapshot(key, fin.nClosed, r6(fin.l), r6(fin.b),
        r6(fin.l + fin.b + fin.s(slot)), r6(fin.s.max - fin.s.min), r6(mae))
    }

  def run(readings: Dataset[SensorReading],
          watermarkDelay: String = "10 minutes"): Dataset[HwSnapshot] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Unit, HwState, HwSnapshot]("hw",
        HwState(0L, Nil, 0.0, 0.0, Nil, 0.0, Long.MinValue, 0L, 0L),
        ReadingFold.byMicros, ReadingFold.everyKey,
        (_, _, s, r, _) => days.add(s, r)(foldMean),
        (key, _, s) => snapshot(key, s)))
}
