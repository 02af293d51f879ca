package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ExpiredTimerInfo}
import Model._

/** The reference's keyed-state operators (SURVEY.md §2.9) on Spark 4's
  * `transformWithState`: T1 visitor repair, F2 UV dedup and T2 jump-out
  * CEP, the three pieces Spark has no declarative primitive for. Each is
  * keyed by mid (hash-partitioned, like Flink's keyBy), keeps named state
  * per key and evicts it with event-time timers as the watermark advances.
  *
  * Streaming only: event-time timers need a watermark on `ts`, and a
  * batch Dataset has none. The batch analogues are the `RefQueries`
  * window twins (q06/q07/q12).
  *
  * Requires `spark.sql.streaming.stateStore.providerClass =
  * ...state.RocksDBStateStoreProvider` on the session running it.
  */
object StatefulOps {

  // shared immutable formatter: the per-event path must not allocate
  private val dayFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    .withZone(java.time.ZoneOffset.UTC)
  private[streaming] def dayOf(ts: Timestamp): String = dayFmt.format(ts.toInstant)

  // state encoders, derived by reflection once per JVM rather than in every
  // processor `init` (once per partition per batch)
  private lazy val jumpEncoder = Encoders.product[Jump]
  private lazy val bufEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[LogEvent]]()
  private lazy val eventEncoder = Encoders.product[LogEvent]

  /** T2 — CEP jump-out detection (UserJumpApp.java:88-158): a session
    * entry (empty last_page_id) NOT followed by any page event within
    * `gapMs` is a jump. The pending entry's event-time timer firing IS the
    * output. A follow-up that is itself an entry closes the old pattern
    * and opens a new one (the reference's pattern lets `first` re-match).
    * Rows are sorted per key per trigger; state is one pending entry. */
  class JumpProcessor(gapMs: Long) extends StatefulProcessor[String, LogEvent, Jump] {
    @transient private var pending: org.apache.spark.sql.streaming.ValueState[Jump] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getValueState[Jump]("pending", jumpEncoder, TTLConfig.NONE)

    override def handleInputRows(mid: String, rows: Iterator[LogEvent],
                                 tv: TimerValues): Iterator[Jump] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Jump]
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      val old: Jump = if (pending.exists()) pending.get() else null
      var p: Jump = old
      sorted.foreach { e =>
        val isEntry = e.lastPageId == null || e.lastPageId.isEmpty
        if (p != null) {
          if (e.ts.getTime - p.ts.getTime > gapMs) out += p
          p = null
        }
        if (isEntry && p == null) p = Jump(e.mid, e.pageId, e.isNew, e.ts, e.vc, e.ch, e.ar)
      }
      if (old != null && (p == null || p.ts != old.ts))
        getHandle.deleteTimer(old.ts.getTime + gapMs)
      if (p != null) {
        pending.update(p)
        if (old == null || p.ts != old.ts)
          getHandle.registerTimer(p.ts.getTime + gapMs)
      } else pending.clear()
      out.iterator
    }

    override def handleExpiredTimer(mid: String, tv: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Jump] = {
      // watermark passed pending + gap with no follow-up: emit as jump
      val out = if (pending.exists()) Iterator.single(pending.get()) else Iterator.empty
      pending.clear()
      out
    }
  }

  def userJump(events: Dataset[LogEvent], gapMs: Long = 10000L): Dataset[Jump] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.mid)
      .transformWithState(new JumpProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- ordered drain without buffering (T1) ------------------------------
  //
  // Sorting a key's rows per trigger (`rows.toSeq.sortBy`) costs
  // O(events per key per trigger) heap — a hot key would buffer its whole
  // trigger. T1 needs every event in event-time order (each one is
  // emitted, repaired or not), so there the TIMER QUEUE is the sorter:
  // incoming rows land in a MapState keyed by their event-time millisecond
  // (RocksDB-backed — backlog lives in the state store, not on the heap),
  // one event-time timer is registered per distinct timestamp, and Spark
  // fires timers in expiry order as the watermark advances. The drain
  // therefore sees events in event-time order with per-step memory bounded
  // by the events sharing ONE millisecond, regardless of how hot the key
  // is. Emission waits for the watermark to pass the event (the price of
  // total order under out-of-order input — the same contract the
  // reference's CEP/state TTL operators have). F2 emits one event per
  // (mid, day) and keeps its own state at that grain (UniqueVisitProcessor).

  /** T1 — new/old-visitor repair (BaseLogAPP.java:74-130). State:
    * first-visit day per mid; an `is_new=1` event on a later day than the
    * recorded first visit is rewritten to `is_new=0`. Rows are buffered by
    * event-time ms and drained in timer order (above). State is evicted 30
    * idle days after the mid's last drained event (a client returning
    * after >30 idle days claiming is_new=1 escapes repair — the accepted
    * trade of any TTL'd state, cf. UniqueVisitApp's 1-day TTL). Idle-key
    * expiry is an EVENT-TIME cleanup timer at (last drained ts + 30 days)
    * — TTLConfig is processing-time-only and rejected in EventTime mode. */
  class VisitorRepairProcessor
      extends StatefulProcessor[String, LogEvent, RepairedEvent] {
    @transient private var buf:
      org.apache.spark.sql.streaming.MapState[Long, Array[LogEvent]] = _
    @transient private var cleanupAt:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var firstDay:
      org.apache.spark.sql.streaming.ValueState[String] = _

    private val ttlMs = 30L * 86400000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getMapState[Long, Array[LogEvent]](
        "buf", Encoders.scalaLong, bufEncoder, TTLConfig.NONE)
      cleanupAt = getHandle.getValueState[Long]("cleanupAt",
        Encoders.scalaLong, TTLConfig.NONE)
      firstDay = getHandle.getValueState[String]("firstDay", Encoders.STRING,
        TTLConfig.NONE)
    }

    // Timers are keyed (key, expiry): one timer can serve a drain timestamp
    // and the cleanup horizon at once. A key's timers are its buffered
    // timestamps, its current horizon and superseded horizons at or below
    // the watermark (these fire and are ignored). Registering a timer that
    // exists, or deleting one that does not, costs a state-store call and
    // a Spark WARN, so both calls below keep to that set.

    override def handleInputRows(mid: String, rows: Iterator[LogEvent],
                                 tv: TimerValues): Iterator[RepairedEvent] = {
      rows.foreach { e =>
        val t = e.ts.getTime
        val cur = buf.getValue(t)
        buf.updateValue(t, if (cur == null) Array(e) else cur :+ e)
        if (cur == null && !(cleanupAt.exists() && cleanupAt.get() == t))
          getHandle.registerTimer(t)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(mid: String, tv: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[RepairedEvent] = {
      val t = expired.getExpiryTimeInMs()
      val evs = buf.getValue(t)
      if (evs == null) {
        // not a drain timer: idle-cleanup if it is the CURRENT horizon
        // (an older, superseded cleanup timer is ignored) — and ONLY if
        // nothing is buffered: a later event already waiting past the
        // horizon proves the key is not idle, and clearing here would
        // forget state that event still needs (a lying is_new=1 would go
        // unrepaired). The pending drain reschedules the horizon when it
        // fires.
        if (cleanupAt.exists() && cleanupAt.get() == t) {
          if (!buf.exists()) firstDay.clear()
          cleanupAt.clear()
        }
        Iterator.empty
      } else {
        buf.removeKey(t)
        // slide the idle-eviction horizon past this drain. The old horizon
        // is deleted only while it is a timer of its own that cannot fire
        // in this batch: one shared with a pending drain timestamp is that
        // drain's timer (deleting it would silently drop those events),
        // and one at or below the watermark is already in this batch's
        // expired set, or fires in the next; it is ignored above then and
        // Spark deletes it. The new horizon is registered only when no
        // buffered timestamp already owns that timer.
        if (cleanupAt.exists()) {
          val old = cleanupAt.get()
          if (old != t && old > tv.getCurrentWatermarkInMs() &&
              !buf.containsKey(old)) getHandle.deleteTimer(old)
        }
        val next = t + ttlMs
        if (!buf.containsKey(next)) getHandle.registerTimer(next)
        cleanupAt.update(next)
        drain(evs)
      }
    }

    /** Repairs the events of one drained timestamp (already
      * watermark-safe, event-time ordered across calls). */
    private def drain(events: Array[LogEvent]): Iterator[RepairedEvent] = {
      var fd = if (firstDay.exists()) firstDay.get() else null
      val out = events.map { e =>
        val d = dayOf(e.ts)
        if (e.isNew == "1") {
          if (fd == null) { fd = d
            RepairedEvent(e.mid, e.pageId, e.lastPageId, "1", e.ts, repaired = false, e.vc, e.ch, e.ar)
          } else if (fd != d)
            RepairedEvent(e.mid, e.pageId, e.lastPageId, "0", e.ts, repaired = true, e.vc, e.ch, e.ar)
          else
            RepairedEvent(e.mid, e.pageId, e.lastPageId, "1", e.ts, repaired = false, e.vc, e.ch, e.ar)
        } else
          RepairedEvent(e.mid, e.pageId, e.lastPageId, e.isNew, e.ts, repaired = false, e.vc, e.ch, e.ar)
      }
      if (fd != null) firstDay.update(fd)
      out.iterator
    }
  }

  def visitorRepair(events: Dataset[LogEvent]): Dataset[RepairedEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.mid)
      .transformWithState(new VisitorRepairProcessor, TimeMode.EventTime(), OutputMode.Append())
  }

  /** F2 — UV / first-visit-per-day dedup (UniqueVisitApp.java:69-124):
    * only the first session entry per (mid, day) survives; mid-session
    * events (with a last_page_id, UniqueVisitApp.java:74-78) are dropped
    * on arrival. State per mid is at the (mid, day) grain:
    *   - `lastDay`: the last emitted day; entries of that day or earlier
    *     are dropped on arrival;
    *   - `pending`: day → the earliest entry of that day not yet passed
    *     by the watermark, with one event-time timer at its timestamp;
    *     when it fires the entry is emitted and becomes `lastDay`;
    *   - `cleanupAt`: the idle horizon, 1 day after the last emit (the
    *     reference's 1-day TTL on write, UniqueVisitApp.java:85-89).
    * Per key per trigger only the earliest entry of each day is kept
    * (ties: first arrival), so heap and state are O(days), not O(events).
    *
    * Emission matches a drain of every entry in event-time order: the
    * earliest entry of a day is emitted once the watermark passes it, and
    * an entry accepted later cannot be earlier than one already emitted —
    * the late-event filter drops it. */
  class UniqueVisitProcessor extends StatefulProcessor[String, LogEvent, LogEvent] {
    @transient private var lastDay:
      org.apache.spark.sql.streaming.ValueState[String] = _
    @transient private var pending:
      org.apache.spark.sql.streaming.MapState[String, LogEvent] = _
    @transient private var cleanupAt:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    private val ttlMs = 86400000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastDay = getHandle.getValueState[String]("lastDay", Encoders.STRING,
        TTLConfig.NONE)
      pending = getHandle.getMapState[String, LogEvent]("pending",
        Encoders.STRING, eventEncoder, TTLConfig.NONE)
      cleanupAt = getHandle.getValueState[Long]("cleanupAt",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    // A key's timers are its pending entries' timestamps (one per day, so
    // distinct), its current horizon and superseded horizons at or below
    // the watermark. A pending entry and the horizon can share one timer;
    // as in T1, each register/delete below keeps to that set.

    private def horizon: Long = if (cleanupAt.exists()) cleanupAt.get() else Long.MinValue

    private def pendingAt(t: Long): Boolean = {
      val p = pending.getValue(dayOf(new Timestamp(t)))
      p != null && p.ts.getTime == t
    }

    override def handleInputRows(mid: String, rows: Iterator[LogEvent],
                                 tv: TimerValues): Iterator[LogEvent] = {
      val ld = if (lastDay.exists()) lastDay.get() else null
      val first = scala.collection.mutable.HashMap.empty[String, LogEvent]
      rows.foreach { e =>
        if (e.lastPageId == null || e.lastPageId.isEmpty) {
          val d = dayOf(e.ts)
          if (ld == null || d > ld) first.get(d) match {
            case Some(f) if f.ts.getTime <= e.ts.getTime =>
            case _ => first.update(d, e)
          }
        }
      }
      if (first.nonEmpty) {
        val h = horizon
        first.foreach { case (d, e) =>
          val t = e.ts.getTime
          val cur = pending.getValue(d)
          if (cur == null || t < cur.ts.getTime) {
            if (cur != null && cur.ts.getTime != h)
              getHandle.deleteTimer(cur.ts.getTime)
            pending.updateValue(d, e)
            if (t != h) getHandle.registerTimer(t)
          }
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(mid: String, tv: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[LogEvent] = {
      val t = expired.getExpiryTimeInMs()
      val d = dayOf(new Timestamp(t))
      val p = pending.getValue(d)
      if (p != null && p.ts.getTime == t) {
        pending.removeKey(d)
        lastDay.update(d)
        // slide the horizon past this emit, by T1's rules: the old one is
        // deleted only while it is a timer of its own that cannot fire in
        // this batch; the new one only when no pending entry owns it
        if (cleanupAt.exists()) {
          val old = cleanupAt.get()
          if (old != t && old > tv.getCurrentWatermarkInMs() && !pendingAt(old))
            getHandle.deleteTimer(old)
        }
        val next = t + ttlMs
        if (!pendingAt(next)) getHandle.registerTimer(next)
        cleanupAt.update(next)
        Iterator.single(p)
      } else {
        // the current horizon: every entry of `lastDay` is now behind the
        // watermark, so the late-event filter stands in for the state
        // (pending days are all later than `lastDay`)
        if (horizon == t) { lastDay.clear(); cleanupAt.clear() }
        Iterator.empty
      }
    }
  }

  /** `chainTs`: pass the output's event-time column name to keep the
    * stream chainable into FURTHER stateful operators (windowed aggs,
    * joins) — Spark re-derives the watermark from the declared column
    * (the transformWithState analogue of the reference's DWM→DWS
    * topology, where UniqueVisit feeds VisitorStats). */
  def uniqueVisit(events: Dataset[LogEvent],
                  chainTs: Option[String] = None): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    val grouped = events.groupByKey(_.mid)
    chainTs match {
      case Some(tsCol) =>
        grouped.transformWithState(new UniqueVisitProcessor, tsCol, OutputMode.Append())
      case None =>
        grouped.transformWithState(new UniqueVisitProcessor, TimeMode.EventTime(), OutputMode.Append())
    }
  }
}
