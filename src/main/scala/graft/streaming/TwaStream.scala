package graft.streaming

import org.apache.spark.sql.Dataset

/** One running snapshot per key per batch: the time-weighted average so
  * far, the plain mean, and the coverage span in seconds.
  */
case class TwaSnapshot(event_type: String, n: Long, plain_mean: Double,
                       twa: Double, span_sec: Long)

/** O(1) per-key fold state: last held sample + exact micro-unit sums. */
case class TwaState(pe: Long, pv: Double, areaMicros: Long, spanSec: Long,
                    svMicros: Long, n: Long)

/** Streaming time-weighted average — the unbounded-stream twin of q234's
  * batch TWA. State per series is O(1): the last (epoch, value) sample plus
  * four accumulators; each arriving reading closes one trapezoid against
  * the held sample. Every trapezoid increment is snapped to 6-dp via
  * HALF_UP BigDecimal — bit-identical to the batch plan's decimal(28,6)
  * per-term casts — so after the same rows in any batch slicing the
  * streaming TWA equals the batch TWA exactly (TwaStreamSpec asserts it).
  *
  * Rows inside a batch are replay-sorted on (floored epoch seconds,
  * event_id) before folding — the batch window's (unix_timestamp(ts),
  * event_id) order, so two readings in the same second fold in event_id
  * order, not arrival order — making snapshots deterministic under any
  * micro-batch boundary placement.
  */
object TwaStream {

  private def step(s: TwaState, r: SensorReading): TwaState = {
    val e = StreamTime.seconds(r.ts)
    // a row older than the held sample arrived in a LATER micro-batch:
    // integrating it would produce a negative trapezoid; drop it (the
    // watermark bounds how much such lateness exists at all)
    if (s.pe != Long.MinValue && e < s.pe) s
    else {
      val (area, span) =
        if (s.pe == Long.MinValue) (s.areaMicros, s.spanSec)
        else (s.areaMicros
          + Exact.snap6Micros(((s.pv + r.value) / 2.0) * (e - s.pe).toDouble),
          s.spanSec + (e - s.pe))
      TwaState(e, r.value, area, span,
        s.svMicros + Exact.snap6Micros(r.value), s.n + 1)
    }
  }

  private def snapshot(key: String, s: TwaState): Option[TwaSnapshot] =
    if (s.n == 0) None
    else Some(TwaSnapshot(key, s.n,
      s.svMicros.toDouble / 1e6 / s.n,
      if (s.spanSec > 0) s.areaMicros.toDouble / 1e6 / s.spanSec
      else s.svMicros.toDouble / 1e6 / s.n,
      s.spanSec))

  def run(readings: Dataset[SensorReading],
          watermarkDelay: String = "10 minutes"): Dataset[TwaSnapshot] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Unit, TwaState, TwaSnapshot]("twa",
        TwaState(Long.MinValue, 0.0, 0L, 0L, 0L, 0L),
        ReadingFold.bySeconds, ReadingFold.everyKey,
        (_, _, s, r, _) => step(s, r), (key, _, s) => snapshot(key, s)))
}
