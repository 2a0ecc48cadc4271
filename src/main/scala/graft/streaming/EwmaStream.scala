package graft.streaming

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.Dataset

/** One smoothed point per fully-lagged reading — the same (key, event_id,
  * rn, ewma) the q110 batch query reports.
  */
case class EwmaPoint(event_type: String, event_id: Long, rn: Long,
                     ewma: Double)

/** Ring of the last 8 readings per key (epoch-MICROS, id, value), oldest
  * first, plus the 1-based position of the NEXT reading.
  */
case class EwmaState(e: Seq[Long], id: Seq[Long], v: Seq[Double], rn: Long)

/** Streaming truncated EWMA — the unbounded-stream twin of q110's batch
  * 8-lag window. State per key is the last eight readings (O(1)); each
  * arriving reading beyond the eighth emits its smoothed value
  * immediately (zero delay — the window looks BACK only, unlike
  * SavGol's two-ahead). Weights are the exact decimals 0.7^k — computed
  * with the same BigDecimal arithmetic Catalyst's decimal multiply
  * performs on the batch side — so after the same rows under ANY
  * micro-batch slicing the emitted points equal the batch q110 rows
  * exactly (EwmaStreamSpec asserts it, including rings straddling batch
  * boundaries). Rows inside a batch are replay-sorted on
  * (full-microsecond ts, event_id); late arrivals sorting behind the
  * ring's tail are dropped (watermark-bounded), mirroring the batch
  * window's total order.
  */
object EwmaStream {

  private val lags = 8
  // 0.7^k as exact decimals with scale k, and the exact normalizer
  private val weights: IndexedSeq[JBD] =
    (0 to lags).map(k =>
      new JBD(BigDecimal(7).pow(k).toBigInt.bigInteger).movePointLeft(k))
  private val norm: Double = weights.reduce(_.add(_)).doubleValue

  /** The batch plan's exact arithmetic: value cast decimal(18,6), times
    * the scale-8 weight literal, summed exactly, cast to double, r4.
    */
  private[graft] def ewmaOf(newest: Double, ring: Seq[Double]): Double = {
    // ring is oldest-first; lag k = k-th newest
    val vals = (newest +: ring.reverse).toIndexedSeq
    var acc = JBD.ZERO
    var k = 0
    while (k <= lags) {
      val x = JBD.valueOf(vals(k)).setScale(6, RoundingMode.HALF_UP)
      acc = acc.add(x.multiply(weights(k).setScale(lags)))
      k += 1
    }
    Exact.r4(acc.doubleValue / norm)
  }

  private def step(key: String, s: EwmaState, r: SensorReading,
                   emit: EwmaPoint => Unit): EwmaState = {
    val e = StreamTime.micros(r.ts)
    if (s.e.isEmpty || e > s.e.last
      || (e == s.e.last && r.event_id > s.id.last)) {
      if (s.e.size == lags)
        emit(EwmaPoint(key, r.event_id, s.rn, ewmaOf(r.value, s.v)))
      EwmaState((s.e :+ e).takeRight(lags),
        (s.id :+ r.event_id).takeRight(lags),
        (s.v :+ r.value).takeRight(lags), s.rn + 1)
    } else s
  }

  def run(readings: Dataset[SensorReading],
          watermarkDelay: String = "10 minutes"): Dataset[EwmaPoint] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Unit, EwmaState, EwmaPoint]("ewma",
        EwmaState(Nil, Nil, Nil, 1L), ReadingFold.byMicros,
        ReadingFold.everyKey,
        (key, _, s, r, emit) => step(key, s, r, emit)))
}
