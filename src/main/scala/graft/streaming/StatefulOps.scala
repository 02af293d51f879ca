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

  /** T2 — CEP jump-out detection (UserJumpApp.java:88-158): a session
    * entry (empty last_page_id) NOT followed by any page event within
    * `gapMs` is a jump. The pending entry's event-time timer firing IS the
    * output. A follow-up that is itself an entry closes the old pattern
    * and opens a new one (the reference's pattern lets `first` re-match).
    * Rows are sorted per key per trigger; state is one pending entry. */
  class JumpProcessor(gapMs: Long) extends StatefulProcessor[String, LogEvent, Jump] {
    @transient private var pending: org.apache.spark.sql.streaming.ValueState[Jump] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getValueState[Jump]("pending", Encoders.product[Jump], TTLConfig.NONE)

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

  // ---- ordered drain without buffering (T1/F2) ----------------------------
  //
  // Sorting a key's rows per trigger (`rows.toSeq.sortBy`) costs
  // O(events per key per trigger) heap — a hot key would buffer its whole
  // trigger. Here the TIMER QUEUE is the sorter: incoming rows land in a
  // MapState keyed by their event-time millisecond (RocksDB-backed —
  // backlog lives in the state store, not on the heap), one event-time
  // timer is registered per distinct timestamp, and Spark fires timers in
  // expiry order as the watermark advances. The drain therefore sees
  // events in event-time order with per-step memory bounded by the events
  // sharing ONE millisecond, regardless of how hot the key is. Emission
  // waits for the watermark to pass the event (the price of total order
  // under out-of-order input — the same contract the reference's CEP/state
  // TTL operators have).

  private def bufEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[LogEvent]]()

  /** Shared shape: buffer rows by event-time ms, drain in timer order.
    * Idle-key expiry is an EVENT-TIME cleanup timer at (last drained ts +
    * ttlMs) — TTLConfig is processing-time-only and rejected in EventTime
    * mode. */
  abstract class OrderedDrainProcessor[O]
      extends StatefulProcessor[String, LogEvent, O] {
    @transient protected var buf:
      org.apache.spark.sql.streaming.MapState[Long, Array[LogEvent]] = _
    @transient private var cleanupAt:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    /** Idle eviction horizon for the op's value state. */
    protected def ttlMs: Long
    /** Pre-buffer filter: rows failing it are never stored. */
    protected def keep(e: LogEvent): Boolean = true
    /** Initialize op-specific value state. */
    protected def initOp(): Unit
    /** Clear op-specific value state (idle TTL fired). */
    protected def clearOp(): Unit
    /** Process the events of one drained timestamp (already watermark-safe,
      * event-time ordered across calls). */
    protected def drain(mid: String, events: Array[LogEvent]): Iterator[O]

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getMapState[Long, Array[LogEvent]](
        "buf", Encoders.scalaLong, bufEncoder, TTLConfig.NONE)
      cleanupAt = getHandle.getValueState[Long]("cleanupAt",
        Encoders.scalaLong, TTLConfig.NONE)
      initOp()
    }

    override def handleInputRows(mid: String, rows: Iterator[LogEvent],
                                 tv: TimerValues): Iterator[O] = {
      rows.foreach { e =>
        if (keep(e)) {
          val t = e.ts.getTime
          val cur = buf.getValue(t)
          buf.updateValue(t, if (cur == null) Array(e) else cur :+ e)
          getHandle.registerTimer(t) // idempotent per (key, expiry)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(mid: String, tv: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[O] = {
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
          if (!buf.exists()) clearOp()
          cleanupAt.clear()
        }
        Iterator.empty
      } else {
        buf.removeKey(t)
        // slide the idle-eviction horizon past this drain. Timers are
        // keyed (key, expiry), so a cleanup horizon can COINCIDE with a
        // pending drain timestamp — deleting it blindly would delete the
        // drain timer too and silently drop those events; only delete when
        // no buffered events share the expiry (a superseded horizon that
        // does coincide simply fires later and is ignored above).
        if (cleanupAt.exists()) {
          val old = cleanupAt.get()
          if (old != t && !buf.containsKey(old)) getHandle.deleteTimer(old)
        }
        val next = t + ttlMs
        getHandle.registerTimer(next)
        cleanupAt.update(next)
        drain(mid, evs)
      }
    }
  }

  /** T1 — new/old-visitor repair (BaseLogAPP.java:74-130). State:
    * first-visit day per mid; an `is_new=1` event on a later day than the
    * recorded first visit is rewritten to `is_new=0`. State is evicted 30
    * idle days after the mid's last drained event (a client returning
    * after >30 idle days claiming is_new=1 escapes repair — the accepted
    * trade of any TTL'd state, cf. UniqueVisitApp's 1-day TTL). */
  class VisitorRepairProcessor
      extends OrderedDrainProcessor[RepairedEvent] {
    @transient private var firstDay:
      org.apache.spark.sql.streaming.ValueState[String] = _

    override protected def ttlMs: Long = 30L * 86400000L
    override protected def clearOp(): Unit = firstDay.clear()
    override protected def initOp(): Unit =
      firstDay = getHandle.getValueState[String]("firstDay", Encoders.STRING,
        TTLConfig.NONE)

    override protected def drain(mid: String,
                                 events: Array[LogEvent]): Iterator[RepairedEvent] = {
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
    * mid-session events (with a last_page_id, UniqueVisitApp.java:74-78)
    * are dropped before buffering; only the first session entry per
    * (mid, day) survives. State: last emitted day, evicted 1 idle day
    * after the last drain
    * (event-time cleanup timer — the reference's 1-day TTL,
    * UniqueVisitApp.java:85-89). */
  class UniqueVisitProcessor extends OrderedDrainProcessor[LogEvent] {
    @transient private var lastDay:
      org.apache.spark.sql.streaming.ValueState[String] = _

    override protected def ttlMs: Long = 86400000L
    override protected def clearOp(): Unit = lastDay.clear()
    override protected def keep(e: LogEvent): Boolean =
      e.lastPageId == null || e.lastPageId.isEmpty

    override protected def initOp(): Unit =
      lastDay = getHandle.getValueState[String]("lastDay", Encoders.STRING,
        TTLConfig.NONE)

    override protected def drain(mid: String,
                                 events: Array[LogEvent]): Iterator[LogEvent] = {
      var ld = if (lastDay.exists()) lastDay.get() else null
      val out = events.flatMap { e =>
        val d = dayOf(e.ts)
        if (d != ld) { ld = d; Some(e) } else None
      }
      if (ld != null) lastDay.update(ld)
      out.iterator
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
