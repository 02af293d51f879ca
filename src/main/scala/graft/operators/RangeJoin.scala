package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Binned (bucketized) range join — the scale form of a pure containment
  * join `event.ts ∈ [w_start, w_end)` with NO equi key. Planned naively,
  * that predicate is a nested-loop join (every event against every
  * window — dead at 100 TB). Binning makes it an equi-join: each window
  * explodes into the fixed-width time bins it covers, each event maps to
  * its single bin, the join runs on the bin key, and the exact range
  * predicate filters within the bin. An event matches a window in exactly
  * one bin (its own), so no dedup pass is needed. Per-event work is
  * bounded by windows-per-bin — the standard time-binned join shape
  * (DuckDB's native IEJoin provides the oracle semantics for q70).
  */
object RangeJoin {

  /** Join `events` (integer time column `eventTs`) to `windows`
    * ([`wStart`, `wEnd`) integer bounds) by containment, via `binWidth`
    * buckets. Output: the matched rows with both sides' columns. */
  def binned(events: DataFrame, eventTs: String,
             windows: DataFrame, wStart: String, wEnd: String,
             binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val wb = windows.withColumn("_bin",
      explode(expr(s"sequence($wStart div $binWidth, ($wEnd - 1) div $binWidth)")))
    events.withColumn("_bin", expr(s"$eventTs div $binWidth"))
      .join(wb, Seq("_bin"))
      .filter(col(eventTs) >= col(wStart) && col(eventTs) < col(wEnd))
      .drop("_bin")
  }

  /** q70 — campaign-window stats: the first 2 hours of the 20 smallest
    * user ids' activity become "campaign windows"; every event (any user)
    * landing in a window counts toward it. Window bounds and event times
    * are integer seconds; 1-hour bins. The windows table is derived from
    * the same events scan, so the fixture guarantees overlap at any SF. */
  def windowEventStats(s: SparkSession, dir: String, nWindows: Int = 20,
                       spanSec: Long = 7200L, binSec: Long = 3600L): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").as("sec"))
    val w = e.filter(col("user_id") < nWindows)
      .groupBy(col("user_id"))
      .agg(min(col("sec")).as("w_start"))
      .select(col("user_id").as("window_id"), col("w_start"),
        (col("w_start") + spanSec).as("w_end"))
    binned(e, "sec", w, "w_start", "w_end", binSec)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("window_id"))
  }
}
