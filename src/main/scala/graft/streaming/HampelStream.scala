package graft.streaming

import org.apache.spark.sql.Dataset

/** Per-key census snapshot — q415's batch census columns, keyed by the
  * stream's grouping key. The stream groups by whatever column the caller
  * maps into `SensorReading.event_type`; for exact parity with batch q415
  * (which partitions `events` by user_id) feed the batch series key —
  * user_id — into that field, as HampelStreamSpec does. The field is named
  * `series_key`, not user_id, because the stream itself is key-agnostic.
  */
case class HampelSnapshot(series_key: String, n: Long, n_flagged: Long,
                          flag_rate: Double, worst_ratio: Option[Double])

/** O(window) per-key state: the ring of readings still needed as window
  * context (≤ 11 at steady state), the index of the next row awaiting its
  * final verdict, and the running census over finalized rows. `lastTs` /
  * `lastId` pin the arrival order so cross-batch stragglers that would
  * reorder the series are dropped (the watermark contract, as CusumStream
  * drops past days).
  */
case class HampelState(bufIdx: Seq[Long], bufVal: Seq[Double],
                       firstIdx: Long, nextFinal: Long, nSeen: Long,
                       nFinal: Long, nFlagged: Long, worst: Double,
                       hasWorst: Boolean, lastTs: Long, lastId: Long)

/** Streaming Hampel despiker — the unbounded-stream twin of q415's batch
  * census (ops/TimeSeries.scala `hampelCensus`). The batch plan flags row i
  * against the centered 11-point frame rows max(0,i−5)..i+5; the stream
  * holds exactly that context in state, finalizes row i the moment row i+5
  * arrives, and the end-of-batch snapshot folds the still-open tail with
  * TRUNCATED windows — which is precisely the batch semantics at series
  * end, so after the same rows under ANY micro-batch slicing the snapshot
  * census equals the batch census (HampelStreamSpec asserts equality
  * across three slicings).
  *
  * Verdict arithmetic is the batch expression verbatim in scalar form:
  * exact double sort, median = middle or the (a+b)/2.0 midpoint, MAD =
  * median of |x−med| over the same frame, fence = 3.0·1.4826·mad, flag on
  * dev > fence (MAD = 0 ⇒ any nonzero deviation flags — the q415
  * degenerate convention). No decimal snaps are needed: every batch-side
  * quantity here is a plain double expression with a fixed evaluation
  * order, reproduced exactly.
  */
object HampelStream {

  /** The q415 window verdict on one frame: (flagged, ratio if fence>0). */
  private[graft] def verdict(win: Array[Double], x: Double)
      : (Boolean, Option[Double]) = {
    def med(a: Array[Double]): Double = {
      val s = a.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2)
      else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val m = med(win)
    val mad = med(win.map(v => math.abs(v - m)))
    val dev = math.abs(x - m)
    val fence = 3.0 * 1.4826 * mad
    (dev > fence, if (fence > 0) Some(dev / fence) else None)
  }

  /** Finalize every row whose 5 successors exist, advancing the ring. */
  private def drain(s0: HampelState): HampelState = {
    var s = s0
    val lastIdx = s.firstIdx + s.bufIdx.length - 1
    while (s.nextFinal + 5 <= lastIdx) {
      val i = s.nextFinal
      val lo = math.max(s.firstIdx, i - 5)
      val loOff = (lo - s.firstIdx).toInt
      val hiOff = (i + 5 - s.firstIdx).toInt
      val win = s.bufVal.slice(loOff, hiOff + 1).toArray
      val x = s.bufVal((i - s.firstIdx).toInt)
      val (fl, ratio) = verdict(win, x)
      val (w, hw) = ratio match {
        case Some(r) if !s.hasWorst || r > s.worst => (r, true)
        case _ => (s.worst, s.hasWorst)
      }
      s = s.copy(nextFinal = i + 1, nFinal = s.nFinal + 1,
        nFlagged = s.nFlagged + (if (fl) 1L else 0L), worst = w,
        hasWorst = hw)
      // rows before nextFinal−5 are out of every future window
      val keepFrom = s.nextFinal - 5
      if (keepFrom > s.firstIdx) {
        val drop = (keepFrom - s.firstIdx).toInt
        s = s.copy(bufIdx = s.bufIdx.drop(drop),
          bufVal = s.bufVal.drop(drop), firstIdx = keepFrom)
      }
    }
    s
  }

  private def step(s: HampelState, r: SensorReading): HampelState = {
    val t = StreamTime.micros(r.ts)
    // arrival-order contract: a straggler that sorts before an
    // already-buffered reading is dropped, like CusumStream's past-day drop
    if (t > s.lastTs || (t == s.lastTs && r.event_id > s.lastId))
      drain(s.copy(bufIdx = s.bufIdx :+ (s.firstIdx + s.bufIdx.length),
        bufVal = s.bufVal :+ r.value, nSeen = s.nSeen + 1,
        lastTs = t, lastId = r.event_id))
    else s
  }

  /** End-of-batch view: finalize the open tail with truncated windows —
    * the batch semantics at series end — WITHOUT mutating state.
    */
  private def snapshot(key: String, s: HampelState): Option[HampelSnapshot] = {
    if (s.nSeen == 0) return None
    var nFlag = s.nFlagged
    var worst = s.worst
    var hasW = s.hasWorst
    val lastIdx = s.firstIdx + s.bufIdx.length - 1
    var i = s.nextFinal
    while (i <= lastIdx) {
      val lo = math.max(s.firstIdx, i - 5)
      val loOff = (lo - s.firstIdx).toInt
      val win = s.bufVal.slice(loOff, s.bufVal.length).toArray
      // truncated: everything from lo to the current series end
      val x = s.bufVal((i - s.firstIdx).toInt)
      val (fl, ratio) = verdict(win, x)
      if (fl) nFlag += 1
      ratio.foreach { r => if (!hasW || r > worst) { worst = r; hasW = true } }
      i += 1
    }
    Some(HampelSnapshot(key, s.nSeen, nFlag,
      Exact.r6(nFlag.toDouble / s.nSeen),
      if (hasW) Some(Exact.r4(worst)) else None))
  }

  def run(readings: Dataset[SensorReading],
          watermarkDelay: String = "10 minutes"): Dataset[HampelSnapshot] =
    ReadingFold.run(readings, watermarkDelay,
      new ReadingFold[Unit, HampelState, HampelSnapshot]("hampel",
        HampelState(Vector.empty, Vector.empty, 0L, 0L, 0L, 0L, 0L, 0.0,
          hasWorst = false, Long.MinValue, Long.MinValue),
        ReadingFold.byMicros, ReadingFold.everyKey,
        (_, _, s, r, _) => step(s, r), (key, _, s) => snapshot(key, s)))
}
