package graft.streaming

import org.apache.spark.sql.Dataset

/** One smoothed point per fully-windowed reading — the same (series,
  * event_id, smooth, resid) the q252 batch filter reports.
  */
case class SavGolPoint(event_type: String, event_id: Long, smooth: Double,
                       resid: Double)

/** Ring of the last four readings per key (epoch-MICROS, id, value), oldest
  * first — exactly the lookback the 5-point filter needs.
  */
case class SavGolState(e: Seq[Long], id: Seq[Long], v: Seq[Double])

/** Streaming Savitzky–Golay smoothing — the bounded-delay stream twin of
  * q252's batch filter. SG(5, quadratic) needs TWO future points, so a
  * reading is emitted exactly two readings late: when x_{t+2} arrives, the
  * window centred on x_t is complete and its smoothed value is final. State
  * per series is the last four readings (O(1)); rows inside a batch are
  * replay-sorted on (full-microsecond ts, event_id) — the batch window's
  * total order down to Timestamp precision — so
  * under any micro-batch slicing of an in-order stream the emitted points
  * equal the batch q252 rows exactly (SavGolStreamSpec asserts it,
  * including windows straddling batch boundaries).
  *
  * Out-of-order arrivals WITHIN the watermark that sort behind the held
  * ring are dropped (the filter's centre would already have been emitted);
  * the watermark bounds how much such lateness exists.
  */
object SavGolStream {

  private def step(key: String, s: SavGolState, r: SensorReading,
                   emit: SavGolPoint => Unit): SavGolState = {
    val e = StreamTime.micros(r.ts)
    // in-order guard: a reading sorting before the ring's tail arrived
    // after its window was already finalized — drop it
    if (s.e.isEmpty || e > s.e.last
      || (e == s.e.last && r.event_id > s.id.last)) {
      if (s.e.size == 4) {
        // the incoming reading completes the window centred on ring
        // slot 2 (0-based): a=ring(0) b=ring(1) c=ring(2) d=ring(3)
        // e=incoming — q252's exact expression
        val sm = (-3.0 * s.v(0) + 12.0 * s.v(1) + 17.0 * s.v(2)
          + 12.0 * s.v(3) - 3.0 * r.value) / 35.0
        emit(SavGolPoint(key, s.id(2),
          Exact.r6(sm) + 0.0, Exact.r6(s.v(2) - sm) + 0.0))
      }
      SavGolState((s.e :+ e).takeRight(4),
        (s.id :+ r.event_id).takeRight(4),
        (s.v :+ r.value).takeRight(4))
    } else s
  }

  def run(readings: Dataset[SensorReading],
          watermarkDelay: String = "10 minutes"): Dataset[SavGolPoint] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Unit, SavGolState, SavGolPoint]("ring",
        SavGolState(Nil, Nil, Nil), ReadingFold.byMicros,
        ReadingFold.everyKey,
        (key, _, s, r, emit) => step(key, s, r, emit)))
}
