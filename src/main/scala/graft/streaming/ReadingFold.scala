package graft.streaming

import java.math.{BigDecimal => JBD, RoundingMode}
import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

case class SensorReading(event_type: String, event_id: Long, ts: Timestamp,
                         value: Double)

/** Shared time helpers for the stateful processors. */
private[streaming] object StreamTime {
  /** Full-microsecond epoch of a Timestamp — `getTime` alone truncates to
    * milliseconds, so two readings a few microseconds apart would tie and
    * replay-sort by event_id while the batch windows order by the full
    * timestamp first. Used as the replay/guard key wherever a processor
    * must walk rows in the batch plan's (ts, event_id) total order.
    */
  def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Whole epoch seconds, floored — the batch plan's `unix_timestamp(ts)`. */
  def seconds(t: Timestamp): Long = Math.floorDiv(micros(t), 1000000L)
}

/** The scalar images of the batch plans' exact roundings, shared by the
  * stream monitors so each twin snaps exactly where its batch plan does.
  */
private[streaming] object Exact {
  /** `x` cast to decimal(18,6) (HALF_UP), as exact long micro-units. */
  def snap6Micros(x: Double): Long =
    JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  /** The batch recursions' `round(x·1e12)/1e12` state snap. */
  def snap12(x: Double): Double =
    JBD.valueOf(x * 1e12)
      .setScale(0, RoundingMode.HALF_UP).doubleValue() / 1e12

  /** Batch `r4` = round(x·10000)/10000 via Spark ROUND (HALF_UP). */
  def r4(x: Double): Double =
    JBD.valueOf(x * 10000)
      .setScale(0, RoundingMode.HALF_UP).doubleValue() / 10000

  /** Batch `r6` = round(x·1e6)/1e6 via Spark ROUND (HALF_UP). */
  def r6(x: Double): Double =
    JBD.valueOf(x * 1000000)
      .setScale(0, RoundingMode.HALF_UP).doubleValue() / 1000000.0
}

/** The open-day mean accumulator of the day-level monitors (Cusum,
  * Extremal, Holt, HoltWinters, Kalman). A state's open day is the triple
  * (curDay, svMicros, cnt): the UTC day being averaged, its readings' sum
  * in exact 6-dp micro-units (the long image of the batch plan's
  * decimal(18,6) per-term casts) and their count. `open` reads that
  * triple from the monitor's state and `reopen` writes it back.
  *
  * The mean handed to the monitor's `fold(state, day, mean)` is
  * svMicros/1e6/cnt — both divisions correctly rounded, so it equals the
  * batch `sum(decimal(18,6)) cast double / count` exactly.
  */
private[streaming] final class DailyMean[S](
    open: S => (Long, Long, Long),
    reopen: (S, Long, Long, Long) => S) {

  /** Adds one reading in replay order. The first reading of a later day
    * closes the held day: its mean folds into the state. A reading for a
    * day already folded is dropped (the watermark bounds that lateness).
    */
  def add(s: S, r: SensorReading)(fold: (S, Long, Double) => S): S = {
    val day = Math.floorDiv(StreamTime.micros(r.ts), 86400L * 1000000L)
    val (curDay, sv, cnt) = open(s)
    if (curDay == Long.MinValue || day == curDay)
      reopen(s, day, sv + Exact.snap6Micros(r.value), cnt + 1)
    else if (day > curDay)
      reopen(fold(s, curDay, sv.toDouble / 1e6 / cnt), day,
        Exact.snap6Micros(r.value), 1L)
    else s
  }

  /** The end-of-batch view: the state with its open day folded as if it
    * were final, without storing it; None before the first reading.
    */
  def closed(s: S)(fold: (S, Long, Double) => S): Option[S] = {
    val (curDay, sv, cnt) = open(s)
    if (cnt == 0) None else Some(fold(s, curDay, sv.toDouble / 1e6 / cnt))
  }
}

/** The one stateful per-key fold behind the batch-paritied stream monitors
  * (Coverage, Cusum, Ewma, Extremal, Hampel, Holt, HoltWinters, Kalman,
  * SavGol, Twa). Per key and micro-batch it reads the key's state (`empty`
  * for a new key), walks the batch's readings in `replay` order through
  * `step`, stores the state under `stateName`, and emits whatever `step`
  * emitted followed by the end-of-batch `snapshot`. A key for which
  * `params` has nothing is skipped and keeps no state; each micro-batch
  * that drops its readings logs one WARN naming the key and the count.
  *
  * `replay` is the batch twin's window order: sorting each batch on it
  * makes every snapshot independent of where the micro-batch boundaries
  * fall. State across batches is the monitor's own business — each one
  * drops a reading that sorts before what it already folded.
  */
final class ReadingFold[P, S <: Product : TypeTag, O](
    stateName: String,
    empty: S,
    replay: SensorReading => (Long, Long),
    params: String => Option[P],
    step: (String, P, S, SensorReading, O => Unit) => S,
    snapshot: (String, P, S) => Option[O] = (_: String, _: P, _: S) => None)
    extends StatefulProcessor[String, SensorReading, O] with Logging {

  private val stateEncoder: Encoder[S] = Encoders.product[S]
  @transient private var st: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState(stateName, stateEncoder, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: String,
      rows: Iterator[SensorReading],
      timerValues: TimerValues): Iterator[O] = params(key) match {
    case None =>
      logWarning(s"$stateName: no parameters for key '$key'; dropped " +
        s"${rows.size} readings of this micro-batch")
      Iterator.empty
    case Some(p) =>
      var s = if (st.exists()) st.get() else empty
      val out = Seq.newBuilder[O]
      rows.toArray.sortBy(replay).foreach { r =>
        s = step(key, p, s, r, out += _)
      }
      st.update(s)
      (out ++= snapshot(key, p, s)).result().iterator
  }
}

object ReadingFold {
  /** Replay on (full-microsecond ts, event_id): the batch windows' order. */
  val byMicros: SensorReading => (Long, Long) =
    r => (StreamTime.micros(r.ts), r.event_id)

  /** Replay on (floored epoch seconds, event_id): the order of the batch
    * plans that window on `unix_timestamp(ts)`.
    */
  val bySeconds: SensorReading => (Long, Long) =
    r => (StreamTime.seconds(r.ts), r.event_id)

  /** `params` for monitors that fold every key. */
  val everyKey: String => Option[Unit] = _ => Some(())

  /** Runs `fold` per `event_type` on event time behind a `watermarkDelay`
    * watermark, appending what it emits.
    */
  def run[O <: Product : TypeTag](readings: Dataset[SensorReading],
                                  watermarkDelay: String,
                                  fold: ReadingFold[_, _, O]): Dataset[O] =
    readings
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)(Encoders.STRING)
      .transformWithState(fold, TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[O])
}
