package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming twin of [[graft.operators.AsOf]] — an event-time as-of join on
  * `transformWithState`.
  *
  * Both inputs arrive as ONE union-tagged keyed stream (the same
  * construction the batch operator uses, which is also what makes a
  * two-input stateful op expressible on Spark's single-input API): right
  * rows are buffered as (ts → reduced value) versions, left rows are
  * buffered by ts and drained by event-time TIMER — when the timer at t
  * fires the watermark has passed t, so every right version ≤ t has
  * arrived and the match is final (no retraction, append-mode output).
  *
  * State is bounded without a TTL: after a drain at t, any right version
  * STRICTLY older than the winning version can never be the as-of answer
  * for a future left row (future drains have t' > t ≥ winner), so it is
  * pruned immediately. Per-key state is one winning version + in-flight
  * rows inside the watermark delay — independent of stream length.
  *
  * Ties follow the batch rule: a right version at exactly the left row's
  * timestamp matches (`rt <= t`), and simultaneous right writers are
  * reduced to MAX(value) — data-determined, not arrival-determined.
  */
object AsOfStream {

  /** Union-tagged input: side 0 = left (probe, identified by `id`),
    * side 1 = right (version carrying `v`). */
  case class AsOfIn(k: Long, ts: Timestamp, side: Int, id: Long, v: Double)

  /** One output per left row, with the matched version or None. */
  case class AsOfOut(k: Long, id: Long, ts: Timestamp,
                     asofTs: Option[Long], asofV: Option[Double])

  private def idsEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  class AsOfProcessor extends StatefulProcessor[Long, AsOfIn, AsOfOut] {
    @transient private var lefts:
      org.apache.spark.sql.streaming.MapState[Long, Array[Long]] = _
    @transient private var rights:
      org.apache.spark.sql.streaming.MapState[Long, Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lefts = getHandle.getMapState[Long, Array[Long]](
        "lefts", Encoders.scalaLong, idsEncoder, TTLConfig.NONE)
      rights = getHandle.getMapState[Long, Double](
        "rights", Encoders.scalaLong, Encoders.scalaDouble, TTLConfig.NONE)
    }

    override def handleInputRows(k: Long, rows: Iterator[AsOfIn],
                                 tv: TimerValues): Iterator[AsOfOut] = {
      rows.foreach { r =>
        val t = r.ts.getTime
        if (r.side == 1) {
          // simultaneous right writers reduce to MAX(value) — the batch
          // operator's declared tie rule
          val nv = if (rights.containsKey(t)) math.max(rights.getValue(t), r.v)
                   else r.v
          rights.updateValue(t, nv)
        } else {
          val cur = lefts.getValue(t)
          // a buffered t already has its drain timer
          if (cur == null) getHandle.registerTimer(t)
          lefts.updateValue(t, if (cur == null) Array(r.id) else cur :+ r.id)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(k: Long, tv: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[AsOfOut] = {
      val t = expired.getExpiryTimeInMs()
      val ids = lefts.getValue(t)
      if (ids == null) return Iterator.empty
      lefts.removeKey(t)
      var best = Long.MinValue
      var bestV = 0.0
      rights.iterator().foreach { case (rt, v) =>
        if (rt <= t && rt > best) { best = rt; bestV = v }
      }
      if (best != Long.MinValue) {
        // superseded versions can never win a future drain: prune now
        val stale = rights.keys().filter(_ < best).toArray
        stale.foreach(rights.removeKey)
      }
      val (aTs, aV) =
        if (best != Long.MinValue) (Some(best), Some(bestV)) else (None, None)
      ids.iterator.map(id => AsOfOut(k, id, new Timestamp(t), aTs, aV))
    }
  }

  /** The streaming as-of join. `in` must carry a watermark on `ts`. */
  def asOfStream(in: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.k)
      .transformWithState(new AsOfProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}
