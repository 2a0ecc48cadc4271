package graft.streaming

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.Dataset

/** Per-series training reference handed to the monitor: the batch q139
  * plan's (n_train, μ, σ) from [[graft.ops.TimeSeries.cusumTrainStats]] —
  * an unbounded stream cannot know its own 75% cut, so the reference stats
  * are a broadcast input, exactly as a production drift monitor would pin
  * them from a training window.
  */
case class CusumParams(nTrain: Long, mu: Double, sigma: Double)

/** One running CUSUM verdict per key per batch — q139's output columns. */
case class CusumSnapshot(event_type: String, n_train: Long, peak_day: Long,
                         peak: Double, drifted: Boolean)

/** O(1) per-key fold state. `cs` / `runmin` are the exact decimal(38,16)
  * running sum and running minimum as plain strings (a long at scale 16
  * overflows after ~900 slack units, and the state encoder's default
  * BigDecimal shape is wider than the batch cast — strings keep the walk
  * bit-exact and the state O(1)). `excMax`/`peakDay` carry the argmax with
  * the batch tie rule (exc desc, day asc → strict `>` keeps the earliest
  * day). `svMicros`/`cnt` accumulate the open day in exact 6-dp micro-units.
  */
case class CusumState(nDays: Long, cs: String, runmin: String,
                      excMax: Double, peakDay: Long, curDay: Long,
                      svMicros: Long, cnt: Long)

/** Streaming one-sided CUSUM drift monitor — the unbounded-stream twin of
  * q139's batch fold (ops/TimeSeries.scala `cusumFromDaily`). Each closed
  * day's mean folds through the identical arithmetic the batch Column plan
  * runs: term = ((x−μ)/σ − slack) cast to decimal(28,16) (HALF_UP, the
  * Spark cast), cs = exact decimal running sum, runmin = min(running min,
  * 0), exc = (cs − runmin) cast to double. The end-of-batch snapshot folds
  * the still-open day as if final, so after the same rows under ANY
  * micro-batch slicing the snapshot equals batch `cusumFromDaily` run over
  * the same daily table with the same stats (CusumStreamSpec asserts exact
  * equality across three slicings).
  *
  * Determinism notes: the open-day mean is svMicros/1e6/cnt — both
  * divisions correctly rounded, so it equals the batch
  * `sum(decimal(18,6)) cast double / count` exactly; term construction
  * uses JBD.valueOf (Double.toString shortest form), which is what Spark's
  * double→decimal cast sees.
  */
object CusumStream {

  /** Fold one closed day's mean through the batch recursion. */
  private[graft] def foldDay(st: CusumState, day: Long, m: Double,
                             p: CusumParams, slack: Double): CusumState = {
    val term =
      if (p.sigma == 0.0) JBD.ZERO.setScale(16)
      else JBD.valueOf((m - p.mu) / p.sigma - slack)
        .setScale(16, RoundingMode.HALF_UP)
    val cs = new JBD(st.cs).add(term)
    val runmin = new JBD(st.runmin).min(cs)
    val exc = cs.subtract(runmin.min(JBD.ZERO)).doubleValue()
    val (em, pd) =
      if (exc > st.excMax) (exc, day) else (st.excMax, st.peakDay)
    st.copy(nDays = st.nDays + 1, cs = cs.toPlainString,
      runmin = runmin.toPlainString, excMax = em, peakDay = pd)
  }

  private val days = new DailyMean[CusumState](
    s => (s.curDay, s.svMicros, s.cnt),
    (s, day, sv, n) => s.copy(curDay = day, svMicros = sv, cnt = n))

  /** End-of-batch view: fold the open day as if final, report q139's
    * peak row for this series.
    */
  private def snapshot(key: String, s: CusumState, p: CusumParams,
                       slack: Double, threshold: Double): Option[CusumSnapshot] =
    days.closed(s)(foldDay(_, _, _, p, slack)).map { fin =>
      CusumSnapshot(key, p.nTrain, fin.peakDay, Exact.r4(fin.excMax),
        fin.excMax > threshold)
    }

  def run(readings: Dataset[SensorReading],
          params: Map[String, CusumParams],
          slack: Double = 0.5, threshold: Double = 5.0,
          watermarkDelay: String = "10 minutes"): Dataset[CusumSnapshot] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[CusumParams, CusumState, CusumSnapshot]("cusum",
        CusumState(0L, "0", "0", Double.NegativeInfinity, Long.MinValue,
          Long.MinValue, 0L, 0L),
        ReadingFold.byMicros, params.get,
        (_, p, s, r, _) => days.add(s, r)(foldDay(_, _, _, p, slack)),
        (key, p, s) => snapshot(key, s, p, slack, threshold)))
}
