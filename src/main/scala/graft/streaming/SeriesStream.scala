package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental interval coalescing — the streaming twin of q97
  * (`Series.intervalMerge`): the maintained state is the per-user MERGED
  * island set, and each micro-batch of raw intervals re-merges only the
  * touched users' islands. The reference has no interval story at all
  * (its session concept is the per-entry `sv` counter); this is the
  * maintenance shape for lease/validity/session-with-duration tracking
  * over an unbounded stream.
  *
  * Why the merge is replay-friendly: interval coalescing is a CLOSURE —
  * merge(merge(A) ∪ B) == merge(A ∪ B) — so batch boundaries and batch
  * ORDER are immaterial (unlike SCD2's ordered-ingest contract; the spec
  * proves a permuted replay converges to the same state). n_events rides
  * the merge additively.
  *
  * Cost per trigger: O(batch + touched users' islands) — untouched users
  * carry through byte-identical (a keyed store would not rewrite them),
  * closed-history is never rescanned. Exactly-once under foreachBatch
  * retries composes with [[VersionedState]] like every other merge twin.
  */
object SeriesStream {

  /** Empty island state: (user_id, island, start_us, end_us, n_events). */
  def emptyState(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("user_id", "island", "start_us", "end_us", "n_events")
  }

  /** Merge one micro-batch of raw intervals (user_id, st, en, event_id)
    * into the island state. Returns the full new state; only touched
    * users' rows can differ. Island ids are the per-user time-order
    * ordinals of the merged set (q97's numbering), renumbered for
    * touched users — an out-of-order interval may bridge two islands or
    * insert before them, so ordinals are not stable until the user is
    * quiet; the (start_us, end_us) spans are the stable identity. */
  def mergeBatch(state: DataFrame, batch: DataFrame): DataFrame = {
    val touched = batch.select(col("user_id")).distinct()
    val carried = state.join(touched, Seq("user_id"), "left_anti")
    val opened = state.join(touched, Seq("user_id"), "left_semi")
      .select(col("user_id"), col("start_us").as("st"),
        col("end_us").as("en"), col("n_events").as("n"))
    val incoming = batch
      .select(col("user_id"), col("st"), col("en"), lit(1L).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("en"))
    val prevMax = max(col("en"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val remerged = opened.unionByName(incoming)
      .withColumn("ni",
        when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("start_us"), max(col("en")).as("end_us"),
        sum(col("n")).as("n_events"))
    carried.unionByName(remerged)
  }

  /** The q97 batch frame over a maintained state (for equality checks /
    * serving): just a deterministic ordering of the state itself. */
  def report(state: DataFrame): DataFrame =
    state.select(col("user_id"), col("island"), col("start_us"),
      col("end_us"), col("n_events"))
      .orderBy(col("user_id"), col("island"))

  // ---- q96 twin: incremental day-aggregate + shared repair stage ------

  /** Empty observed-day state for [[mergeDayBatch]]: (d, n, rev_cents) —
    * `Series.gapFillObs`'s schema. */
  def emptyDayState(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long, Long)].toDF("d", "n", "rev_cents")
  }

  /** Fold one micro-batch of qualifying orders (day index `d`, `n`,
    * `rev_cents` partials — produce them with the same aggregate as
    * `Series.gapFillObs`) into the maintained day state. Day partials
    * merge by SUM, so this is O(days) per trigger and replay-order
    * immaterial; exactly-once under foreachBatch retries composes with
    * [[VersionedState]] (a re-delivered batch must not double-sum —
    * identical contract to RollingStream's day counts). The REPORT stage
    * (spine + LOCF + lerp) is `Series.gapFillFrom(state)` — shared with
    * batch q96, so streamed == batch is structural once states match. */
  def mergeDayBatch(state: DataFrame, batchObs: DataFrame): DataFrame =
    state.unionByName(batchObs)
      .groupBy(col("d"))
      .agg(sum(col("n")).as("n"), sum(col("rev_cents")).as("rev_cents"))

  // ---- transformWithState deployment shape ---------------------------
  //
  // The foreachBatch twin above maintains the island set as a FRAME; this
  // is the per-key state-store form: open islands live in a ValueState
  // per user (RocksDB-backed), and an island is EMITTED (append mode)
  // once the watermark passes its end — at that point no future interval
  // can touch it (future st ≥ watermark > end, and the merge rule needs
  // st ≤ end), so sealed islands are final. State per user is only the
  // OPEN islands; sealed ones leave the store — the same
  // bounded-without-TTL discipline as AsOfStream's version pruning.

  /** Input: one interval, with `ts` = the start instant (watermark
    * column); st/en in microseconds. */
  case class IvIn(userId: Long, ts: java.sql.Timestamp, st: Long, en: Long)
  /** A sealed (watermark-final) merged island. */
  case class IvOut(userId: Long, startUs: Long, endUs: Long, nEvents: Long)
  private[streaming] case class Island(st: Long, en: Long, n: Long)

  /** Order-insensitive merge sweep over islands (the closure op). */
  private[streaming] def sweep(ivs: Array[Island]): Array[Island] = {
    val sorted = ivs.sortBy(i => (i.st, i.en))
    val out = scala.collection.mutable.ArrayBuffer.empty[Island]
    sorted.foreach { iv =>
      if (out.nonEmpty && iv.st <= out.last.en) {
        val l = out.last
        out(out.length - 1) =
          Island(l.st, math.max(l.en, iv.en), l.n + iv.n)
      } else out += iv
    }
    out.toArray
  }

  class IntervalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, IvIn, IvOut] {
    @transient private var open:
      org.apache.spark.sql.streaming.ValueState[Array[Island]] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[Array[Island]]("open",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Island]](),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def sealReady(userId: Long, wmUs: Long): Iterator[IvOut] = {
      val cur = if (open.exists()) open.get() else Array.empty[Island]
      val (done, live) = cur.partition(_.en < wmUs)
      if (live.isEmpty) open.clear() else open.update(live)
      done.sortBy(i => (i.st, i.en)).iterator
        .map(i => IvOut(userId, i.st, i.en, i.n))
    }

    override def handleInputRows(userId: Long, rows: Iterator[IvIn],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[IvOut] = {
      val cur = if (open.exists()) open.get() else Array.empty[Island]
      val merged = sweep(cur ++ rows.map(r => Island(r.st, r.en, 1L)))
      open.update(merged)
      // one timer per island end: fires when the watermark passes it.
      // Every open island's timer is already pending, so only ends the
      // merge created need one.
      val pending = cur.map(_.en / 1000 + 1).toSet
      merged.map(_.en / 1000 + 1).distinct.filterNot(pending)
        .foreach(getHandle.registerTimer)
      // islands already sealed by the current watermark emit immediately
      sealReady(userId, tv.getCurrentWatermarkInMs() * 1000)
    }

    override def handleExpiredTimer(userId: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[IvOut] =
      sealReady(userId, tv.getCurrentWatermarkInMs() * 1000)
  }

  /** Streaming interval coalescing on the per-key state store: append-mode
    * sealed islands, identical to batch q97's merged spans once the
    * watermark closes. */
  def intervalStateStream(in: org.apache.spark.sql.Dataset[IvIn])
      : org.apache.spark.sql.Dataset[IvOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.userId)
      .transformWithState(new IntervalProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }
}
