package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Slowly-changing-dimension type 2: validity-interval history built from
  * a change stream. The reference's dimension store is last-write-wins
  * (SCD1 — DimSink.java:43-91 upserts by pk, our K3 analogue
  * `DynamicRouting.upsertDims`); type 2 instead CLOSES the old version and
  * opens a new one on every attribute change, so point-in-time joins (the
  * q61 as-of) can reconstruct any historical state.
  *
  * Construction is two window passes over one user-keyed sort plus one
  * reduced aggregation — no self-join:
  *   1. change flags via lag() (a run = consecutive events with the same
  *      attribute value),
  *   2. run ids via a running sum of the flags (the islands technique,
  *      same mechanics as q30's sessionization),
  *   3. per-(key, run) reduce to one version row (valid_from = first event
  *      time, n_events),
  *   4. valid_to = lead(valid_from) over the REDUCED history (orders of
  *      magnitude smaller than the event stream); NULL marks the current
  *      version.
  * Timestamps are integer MICROSECONDS end to end: DuckDB reads the
  * parquet TIMESTAMP(NANOS) column at µs resolution (the same
  * engine-portable boundary q61's as-of join pins), so the engine
  * truncates its nanosecond longs to µs BEFORE ordering — sub-µs ordering
  * the oracle cannot see must not influence run segmentation. */
object Scd {

  /** Islands construction over an arbitrary change stream with columns
    * (user_id, us, event_id, status). Parameterized by frame (not by
    * load path) so the batch query, the q72 composition, and the
    * streaming-maintenance twin all share one implementation — the same
    * refactor `Dedup` underwent for its streaming twin. */
  def scd2HistoryFrom(changes: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val lagStatus = lag(col("status"), 1).over(byUser)
    val runs = changes
      .withColumn("chg",
        when(lagStatus.isNull || lagStatus =!= col("status"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val hist = runs.groupBy(col("user_id"), col("run_id"))
      .agg(min(col("status")).as("status"), // constant within a run
        min(col("us")).as("valid_from"),
        count(lit(1)).as("n_events"))
    // run_id as secondary key: two adjacent runs can share valid_from when
    // two different-status events collide in the same truncated microsecond;
    // run_id is derived from the identical (us, event_id) order in both
    // engines, so (valid_from, run_id) is deterministic and portable.
    val ordered = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("run_id"))
    hist
      .withColumn("valid_to", lead(col("valid_from"), 1).over(ordered))
      .select(col("user_id"), col("status"), col("valid_from"),
        col("valid_to"), col("n_events"),
        col("valid_to").isNull.as("is_current"), col("run_id"))
  }

  /** CDC-aware islands construction: like [[scd2HistoryFrom]] but the
    * change stream carries an `op` column ('u' upsert / 'd' delete, the
    * Maxwell insert/update/delete ops the reference's CDC router reads —
    * TableProcessFunction.java:185-193; its SCD1 dim store has no
    * tombstone story, DimSink.java:72-75 only drops a cache entry).
    * A delete CLOSES the open version at the delete's timestamp
    * (valid_to = delete us, is_current = false) and opens nothing; a
    * later upsert opens a fresh version even at the SAME status (the
    * delete breaks the run); a delete with nothing open is a no-op.
    *
    * Same shape as the plain construction — two window passes over one
    * user-keyed sort, per-run reduce, lead over the REDUCED history — so
    * the scale argument carries unchanged: deletes ride the same shuffle,
    * and the only new per-run state is one MIN over the tombstone rows. */
  def scd2HistoryCdcFrom(changes: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val prevOp = lag(col("op"), 1).over(byUser)
    val prevStatus = lag(col("status"), 1).over(byUser)
    val runs = changes
      .withColumn("chg",
        when(col("op") === "d", 0L)
          .when(prevOp.isNull || prevOp === "d" ||
            prevStatus =!= col("status"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val hist = runs.groupBy(col("user_id"), col("run_id"))
      .agg(min(when(col("op") === "u", col("status"))).as("status"),
        min(when(col("op") === "u", col("us"))).as("valid_from"),
        count(when(col("op") === "u", 1)).as("n_events"),
        // only the FIRST tombstone in a run closes it; later ones no-op
        min(when(col("op") === "d", col("us"))).as("del_at"))
      // head-of-stream tombstones with nothing open land in run 0 with no
      // live rows: a delete of a nonexistent key is a no-op
      .filter(col("n_events") > 0)
    val ordered = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("run_id"))
    hist
      .withColumn("valid_to",
        coalesce(col("del_at"), lead(col("valid_from"), 1).over(ordered)))
      .select(col("user_id"), col("status"), col("valid_from"),
        col("valid_to"), col("n_events"),
        col("valid_to").isNull.as("is_current"), col("run_id"))
  }

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"),
        col("event_type"), col("value"))

  /** q71: full-stream SCD2 history (status = event_type). run_id is an
    * internal ordering key, not part of the declared output. */
  def scd2History(s: SparkSession, dir: String): DataFrame =
    scd2HistoryFrom(eventsUs(s, dir).select(col("user_id"), col("us"),
        col("event_id"), col("event_type").as("status")))
      .drop("run_id")
      .orderBy(col("user_id"), col("valid_from"), col("status"))

  /** q80: SCD2 history under CDC tombstones — q71's stream re-read as a
    * Maxwell-style CDC feed where 'error' events are deletes: the account
    * record vanishes at the error and a later event re-creates it as a
    * NEW version (even at the same status). Declared output mirrors q71
    * (run_id internal); rows closed by a tombstone carry valid_to =
    * tombstone time with no successor abutting it — the gap IS the
    * deletion interval. */
  def scd2CdcHistory(s: SparkSession, dir: String): DataFrame =
    scd2HistoryCdcFrom(eventsUs(s, dir).select(col("user_id"), col("us"),
        col("event_id"),
        when(col("event_type") =!= "error", col("event_type")).as("status"),
        when(col("event_type") === "error", "d").otherwise("u").as("op")))
      .drop("run_id")
      .orderBy(col("user_id"), col("valid_from"), col("status"))

  /** q81: point-in-time enrichment under CDC tombstones — the q80 × q61
    * composition: purchases are enriched with the account-state version
    * valid at purchase time, and a purchase landing in a DELETION GAP
    * (after a tombstone closed the last version, before any re-create)
    * gets NULL state — the delete-blind q72 would wrongly resurrect the
    * dead version there. State stream: view/click/signup statuses with
    * 'error' as the tombstone; facts: purchases.
    *
    * Same one-shuffle as-of construction as q72; the only addition is the
    * matched version's valid_to riding along and a null-mask when it
    * precedes the purchase (`deleted before ts` ⇒ no later version can
    * contain ts either, so as-of + mask equals interval containment — the
    * spec proves it). */
  def pointInTimeEnrichCdc(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val hist = scd2HistoryCdcFrom(
      ev.filter(col("event_type").isin("view", "click", "signup", "error"))
        .select(col("user_id"), col("us"), col("event_id"),
          when(col("event_type") =!= "error", col("event_type")).as("status"),
          when(col("event_type") === "error", "d").otherwise("u").as("op")))
    pointInTimeEnrichCdcFrom(ev, hist)
  }

  /** The q81 join body, parameterized for the spec's containment twin. */
  def pointInTimeEnrichCdcFrom(ev: DataFrame, hist: DataFrame): DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"), col("value"))
    // the as-of machinery forward-fills payload columns ignoreNulls, so a
    // NULL (open) valid_to would inherit the PREVIOUS closed version's
    // bound — encode open as Long.MaxValue through the join instead
    val versions = hist.groupBy(col("user_id"), col("valid_from").as("us"))
      .agg(max_by(col("status"), col("run_id")).as("status"),
        max_by(col("n_events"), col("run_id")).as("n_events"),
        max_by(coalesce(col("valid_to"), lit(Long.MaxValue)), col("run_id"))
          .as("valid_to"))
    val joined = AsOf.asOfJoin(purchases, versions, Seq("user_id"), "us",
      Seq("status", "n_events", "valid_to"))
    val dead = col("valid_to_asof") <= col("us")
    joined.select(col("event_id"), col("user_id"), col("us").as("ts_us"),
        col("value"),
        when(dead, lit(null)).otherwise(col("asof_ts")).as("state_from"),
        when(dead, lit(null)).otherwise(col("status_asof")).as("state"),
        when(dead, lit(null)).otherwise(col("n_events_asof"))
          .as("state_events"))
      .orderBy(col("event_id"))
  }

  /** q82: per-status dwell time — how long the population spends in each
    * state, integrated over the q80 CDC version intervals: SUM(valid_to −
    * valid_from) per status, with open (current) versions capped at the
    * stream's max event time so the total is a pure function of the data.
    * Tombstone-closed intervals contribute only up to the delete — the
    * report a delete-blind history would inflate. Interval arithmetic is
    * integer µs end to end.
    *
    * Scale design: the history is already orders of magnitude smaller
    * than the event stream; the dwell reduce adds one metadata-scale
    * aggregation and a broadcast single-row cap — no new corpus shuffle. */
  def statusDwell(s: SparkSession, dir: String): DataFrame = {
    val hist = scd2HistoryCdcFrom(eventsUs(s, dir)
      .select(col("user_id"), col("us"), col("event_id"),
        when(col("event_type") =!= "error", col("event_type")).as("status"),
        when(col("event_type") === "error", "d").otherwise("u").as("op")))
    val cap = eventsUs(s, dir).agg(max(col("us")).as("cap_us"))
    hist.crossJoin(broadcast(cap))
      .select(col("status"),
        (coalesce(col("valid_to"), col("cap_us")) - col("valid_from"))
          .as("dwell_us"),
        col("is_current"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_versions"),
        sum(col("dwell_us")).as("total_dwell_us"),
        count(when(col("is_current"), 1)).as("n_open"))
      .orderBy(col("status"))
  }

  /** q72: POINT-IN-TIME star enrichment — the composition the reference's
    * dim lookups cannot express. `DimUtil.java:69-126` enriches with the
    * dim value current AT LOOKUP TIME (nondeterministic under replay);
    * here each purchase event is joined to the account-state version that
    * was valid AT THE EVENT'S OWN TIME, so re-running the pipeline over
    * the same data always reproduces the same enrichment.
    *
    * Account-state change stream: signup/error events (the two
    * lifecycle-ish types in the synthetic schema); facts: purchase events.
    * scd2HistoryFrom builds the version intervals; the as-of join
    * (q61's union-sort construction — ONE shuffle, no range self-join)
    * picks the version with the greatest valid_from <= purchase time.
    * Purchases before a user's first state version get NULLs (left join).
    * A spec proves this equals the interval-containment join
    * (valid_from <= ts < valid_to) on the same history. */
  def pointInTimeEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val hist = scd2HistoryFrom(
      ev.filter(col("event_type").isin("signup", "error"))
        .select(col("user_id"), col("us"), col("event_id"),
          col("event_type").as("status")))
    pointInTimeEnrichFrom(ev, hist)
  }

  /** The q72 join body, parameterized for the spec's containment twin:
    * purchases from `ev`, versions from `hist`. */
  def pointInTimeEnrichFrom(ev: DataFrame, hist: DataFrame): DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"), col("value"))
    // one version per (user, µs): when two runs open in the same truncated
    // microsecond the LATER run (max run_id) is the state in force — the
    // as-of contract requires a unique right row per (key, time) so the
    // winner is data-determined, not sort-stability-determined
    val versions = hist.groupBy(col("user_id"), col("valid_from").as("us"))
      .agg(max_by(col("status"), col("run_id")).as("status"),
        max_by(col("n_events"), col("run_id")).as("n_events"))
    AsOf.asOfJoin(purchases, versions, Seq("user_id"), "us",
        Seq("status", "n_events"))
      .select(col("event_id"), col("user_id"), col("us").as("ts_us"),
        col("value"), col("asof_ts").as("state_from"),
        col("status_asof").as("state"), col("n_events_asof").as("state_events"))
      .orderBy(col("event_id"))
  }
}
