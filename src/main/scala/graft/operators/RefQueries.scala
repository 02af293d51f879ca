package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Batch analogues of every reference operator class (SURVEY.md §2) over the
  * driver's TPC-H-ish tables. Each query has a DuckDB oracle in
  * `graft.SparkEntry.oracleSql`; column names and arithmetic are mirrored
  * exactly (decimal-exact sums, integer epoch math, deterministic ordering).
  *
  * Scale design notes apply to every query here:
  *  - plans are fully declarative — Catalyst pushes filters/column pruning
  *    into the parquet scan, and partial aggregation halves shuffle volume;
  *  - small dimensions (region/nation/supplier/part at our star schema's
  *    ratios) are explicitly `broadcast()` so fact tables never shuffle for
  *    enrichment — the Spark-native replacement for the reference's async
  *    dim lookup + Redis cache (app/func/DimAsyncFunction.java:26-79);
  *  - event-time comes from the `events.ts` nanosecond longs; all window
  *    math is integer (ns -> sec) so it is exact at any scale.
  */
object RefQueries {

  /** events with `ts` as epoch-nanosecond Long ([[Tables.load]]'s
    * contract, which also sets the legacy NANOS conf). */
  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private val tsSec: Column = expr("ts div 1000000000")
  private def day(secCol: Column): Column =
    date_format(timestamp_seconds(secCol), "yyyy-MM-dd")

  /** A1 analogue (windowed metric reduce, ProductStatsApp.java:273-299):
    * pricing summary over lineitem — grouped exact-decimal sums. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
          .cast("decimal(18,6)")).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** A2/A4/A5 analogue (tumbling event-time window aggregation,
    * VisitorStatsApp.java:169-182, ProvinceStatsSqlApp.java:53-61): 1-hour
    * tumble per event_type with exact COUNT(DISTINCT) — the streaming twin
    * lives in graft.streaming.WindowedStats. */
  def windowStats(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .withColumn("win_start", expr("((ts div 1000000000) div 3600) * 3600"))
      .groupBy(col("win_start"), col("event_type"))
      .agg(
        count(lit(1)).as("pv_ct"),
        countDistinct(col("user_id")).as("uv_ct"),
        exactSum(col("value")).as("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** q86: SLIDING (hopping) event-time windows — 1-hour windows every
    * 30 minutes, the overlapping-window class the reference never uses
    * (its DWS apps are all tumbling — SURVEY §2.12); trend dashboards
    * need the overlap for smoothing. Native `window(ts, len, slide)`
    * assigns each event to its len/slide = 2 windows inside the aggregate
    * (same operator streams with a watermark — SlidingWindowSpec proves
    * append-mode equality on this very frame).
    *
    * Scale design: the expansion factor is exactly len/slide (here 2×)
    * BEFORE the partial aggregate, which collapses it immediately — the
    * shuffle carries (window, type) partials, never duplicated events. */
  def slidingStats(s: SparkSession, dir: String): DataFrame =
    slidingStatsFrom(events(s, dir)
      .select(expr("ts div 1000000000").as("sec"), col("event_type"),
        col("value")))

  /** The q86 aggregation over any (sec, event_type, value) frame — shared
    * with the streaming twin (add a watermark upstream). */
  def slidingStatsFrom(e: DataFrame): DataFrame = {
    e.groupBy(
        window(timestamp_seconds(col("sec")), "1 hour", "30 minutes")
          .as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("pv_ct"),
        exactSum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("win_start"),
        col("event_type"), col("pv_ct"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** q87: event-transition matrix — per-user journey bigrams (the CEP
    * family's aggregate view: where T2/q07 matches ONE hand-written
    * pattern, this counts EVERY adjacent transition, the input to any
    * Markov/attribution model): lag(event_type) over each user's
    * (µs, event_id) timeline, counted per (prev, next) pair with the
    * share of each prev-state's outgoing mass. First events (no
    * predecessor) count under prev = '_start'.
    *
    * Scale design: one user-keyed window pass (the q71/q30 islands
    * shuffle), then a 25-row aggregate; the share denominator joins back
    * broadcast-small. */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"),
        col("event_type"))
      .withColumn("prev",
        coalesce(lag(col("event_type"), 1).over(byUser), lit("_start")))
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    val outMass = pairs.groupBy(col("prev"))
      .agg(sum(col("n")).as("out_n"))
    pairs.join(broadcast(outMass), Seq("prev"))
      .select(col("prev"), col("next"), col("n"),
        round(col("n").cast("double") / col("out_n").cast("double"), 6)
          .as("p"))
      .orderBy(col("prev"), col("next"))
  }

  /** q88: inter-arrival gap histogram — the event-cadence profile
    * (ingest-health fingerprint a pipeline tracks release over release):
    * per-user gaps between consecutive events, bucketed on a log2 scale
    * (bucket k = floor(log2(gap_ms)) via bit_length, gap 0 ms in bucket
    * -1), with exact counts and per-bucket min/max so the hash pins the
    * bucketing boundaries themselves.
    *
    * Scale design: the same single user-keyed window pass as q87 (lag on
    * the µs timeline), then a ~40-row aggregate — no second shuffle. */
  def gapHistogram(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .select(expr("gap_us div 1000").as("gap_ms"))
      .select(when(col("gap_ms") === 0L, lit(-1L))
          .otherwise((length(bin(col("gap_ms"))) - 1).cast("long"))
          .as("bucket"),
        col("gap_ms"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("gap_ms")).as("min_ms"),
        max(col("gap_ms")).as("max_ms"))
      .orderBy(col("bucket"))
  }

  /** q89: per-language document-length deciles — NTILE(10) within each
    * lang partition (tiebroken by doc_id so the assignment is a pure
    * function of the data in both engines), reduced to per-(lang, decile)
    * counts and char bounds: the ranked-distribution profile a curation
    * team reads before setting length cutoffs (q60's quantile sketch
    * summarizes the same distribution in O(k) state; this is the exact
    * small-cardinality companion).
    *
    * Scale design: the window is PARTITIONED by lang, so ranking
    * distributes (the unpartitioned-NTILE single-reducer trap is the
    * reason this is per-lang — a skewed single lang degrades to the q60
    * sketch, the documented trade). */
  def langDeciles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.load(s, dir, "documents")
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("decile"))
  }

  /** A4/J3 analogue (ProvinceStatsSqlApp.java:53-61): per-nation order
    * stats via a 3-table star join; nation/region broadcast. */
  def provinceStats(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        countDistinct(col("o_orderkey")).as("order_ct"),
        countDistinct(col("o_custkey")).as("customer_ct"),
        exactSum(col("o_totalprice")).as("order_amount"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** J1/J2 analogue (event-time interval join, OrderWideApp.java:139-152):
    * lineitem rows shipped within 90 days of their order's date; the
    * time-band condition composes with the equi key so the shuffle is on the
    * key alone — same plan shape as the streaming interval join. */
  def orderLineBand(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem")
    li.join(o,
        li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") >= o("o_orderdate") &&
        li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("line_ct"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** J3/J4/P6 analogue (6-way dim enrichment, OrderWideApp.java:155-281):
    * the full star — fact lineitem joined to orders, customer, nation,
    * supplier, part; every true dimension broadcast. */
  def starWide(s: SparkSession, dir: String): DataFrame =
    starWideFrom(Tables.load(s, dir, _))

  /** [[starWide]] over a pluggable table loader — Bench swaps in bucketed
    * catalog tables for lineitem/orders to record the co-location win as a
    * number next to the flat-parquet run (VERDICT r4 #6). */
  def starWideFrom(load: String => DataFrame): DataFrame = {
    val li = load("lineitem")
    val o  = load("orders")
    val c  = load("customer")
    val n  = load("nation")
    val su = load("supplier")
    val p  = load("part")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("n_name"), col("p_brand"))
      .agg(
        count(lit(1)).as("line_ct"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("n_name"), col("p_brand"))
  }

  /** F2 analogue (UV / first-visit-per-day dedup, UniqueVisitApp.java:69-124):
    * exact distinct visitors per day. */
  def uvPerDay(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .withColumn("day", day(tsSec))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("uv_ct"),
           count(lit(1)).as("pv_ct"))
      .orderBy(col("day"))
  }

  /** Retention cohort matrix over the events stream — the classic growth
    * analytics query: users grouped by first-active day (the cohort), then
    * for every (cohort, day-offset) the count of cohort members active
    * that day and the retention fraction.
    *
    * Scale shape: ONE distinct (user_id, day) activity pass reduces the
    * fact table before anything else — every later shuffle moves the
    * reduced frame, never raw events. The first-day join broadcasts at
    * small SF (PLANS.md q68) and degrades to a user_id-keyed shuffle of
    * the reduced frames at scale; because activity rows are already
    * distinct per (user, day), the per-(cohort, offset) actives are a
    * plain count — no second COUNT DISTINCT shuffle. Cohort sizes are
    * days-sized and broadcast for the retention divide. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    // the reduced activity frame feeds THREE consumers (cohort firsts,
    // sizes, the offset join); without materialization each consumer
    // re-scans and re-distincts the full event stream — localCheckpoint
    // runs the corpus pass once (|users|×|days| rows, far below the
    // stream; the sharedClusters pattern)
    val activity = events(s, dir)
      .select(col("user_id"), day(tsSec).as("dy"))
      .distinct().transform(PinExplain.pin)
    val firsts = activity.groupBy(col("user_id")).agg(min(col("dy")).as("cohort_day"))
    val sizes = firsts.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
    activity.join(firsts, "user_id")
      .groupBy(col("cohort_day"), datediff(col("dy"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset").cast("long").as("day_offset"),
        col("active_users"),
        round(col("active_users").cast("double") / col("cohort_size").cast("double"), 6)
          .as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** q73: growth-accounting quad — the standard companion of q68's
    * retention matrix. Each (user, active-day) row is classified exactly
    * once by its previous active day: `new` (no prior day), `retained`
    * (active yesterday), `resurrected` (prior day exists but is older
    * than yesterday); `churned(d)` counts users whose last activity was
    * d-1 (next active day absent or beyond d), assigned to day d and
    * clipped to the observation window. The classification invariant
    * `n_active = n_new + n_retained + n_resurrected` holds per row by
    * construction and is spec-asserted.
    *
    * Scale: one distinct pass over events, ONE user-keyed shuffle shared
    * by the lag and lead windows, then a day-keyed aggregation whose
    * cardinality is the day count. The window-end clip joins a broadcast
    * single-row MAX frame — no driver collect. All day arithmetic is
    * integer date+1/-1 (identical in DuckDB), no interval/tz math. */
  def growthAccountingFrom(act: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val c = act
      .withColumn("prev", lag(col("d"), 1).over(byUser))
      .withColumn("next", lead(col("d"), 1).over(byUser))
    val cls = c.groupBy(date_format(col("d"), "yyyy-MM-dd").as("dy"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("prev").isNull, 1)).as("n_new"),
        count(when(col("prev") === date_sub(col("d"), 1), 1)).as("n_retained"),
        count(when(col("prev").isNotNull &&
          col("prev") < date_sub(col("d"), 1), 1)).as("n_resurrected"))
    val mx = act.agg(max(col("d")).as("max_d"))
    val ch = c.crossJoin(broadcast(mx))
      .filter((col("next").isNull || col("next") > date_add(col("d"), 1)) &&
        date_add(col("d"), 1) <= col("max_d"))
      .groupBy(date_format(date_add(col("d"), 1), "yyyy-MM-dd").as("dy"))
      .agg(count(lit(1)).as("n_churned"))
    cls.join(ch, Seq("dy"), "full_outer")
      .select(col("dy"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("dy"))
  }

  def growthAccounting(s: SparkSession, dir: String): DataFrame =
    // same materialization rationale as retentionCohorts: the class,
    // churn, and window-end consumers would each re-scan the event stream
    growthAccountingFrom(events(s, dir)
      .select(col("user_id"),
        timestamp_seconds(tsSec).cast("date").as("d"))
      .distinct().transform(PinExplain.pin))

  /** Correlated-subquery surface (Catalyst decorrelation showcase): parts
    * priced above 1.05× their brand's average (the corpus's prices are
    * uniform in [900, 1000), so the premium band is a real but thin tail).
    * Written as the user would write it — two correlated scalar
    * subqueries — and left to Catalyst to decorrelate into per-brand
    * aggregates joined back (PlanSpec asserts no per-row subquery survives
    * in the physical plan; a re-execution per row would be a
    * scale-killer).
    *
    * Arithmetic stays EXACT across engines: prices become integer cents
    * (round(p*100) — identical half-away-from-zero double rounding in
    * Spark and DuckDB), and the 1.05× average test is cross-multiplied to
    * `cents · 100 · n > 105 · sum_cents` — pure BIGINT comparison, no
    * float division or AVG rounding anywhere. */
  def premiumParts(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "part").createOrReplaceTempView("part_q69")
    s.sql("""
      SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS premium_ct
      FROM part_q69 p
      WHERE CAST(round(p.p_retailprice * 100) AS BIGINT) * 100 *
            (SELECT COUNT(*) FROM part_q69 p2 WHERE p2.p_brand = p.p_brand)
          > 105 * (SELECT SUM(CAST(round(p3.p_retailprice * 100) AS BIGINT))
                  FROM part_q69 p3 WHERE p3.p_brand = p.p_brand)
      GROUP BY p.p_brand
      ORDER BY p.p_brand""")
  }

  /** Approx twin of [[uvPerDay]] (SURVEY §2.8's O(1)-state form): per-day
    * unique visitors via the portable KMV sketch
    * ([[graft.functions.KmvDistinct]]). The exact form shuffles every
    * distinct user_id per day; this shuffles ≤ k longs per (day,
    * partition) — the shape that survives a 100 TB fact table. k=64 →
    * ~13% relative error; the DuckDB oracle recomputes the identical
    * estimate (same hashes, same k-th-minimum arithmetic), so the check
    * is a full hash compare, not a tolerance band. */
  def uvPerDayApprox(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val kmv = graft.functions.KmvDistinct.columnAgg(k)
    events(s, dir)
      .withColumn("day", day(tsSec))
      .select(col("day"),
        graft.functions.PortableHash.h60(col("user_id").cast("string")).as("h"))
      .groupBy(col("day"))
      .agg(kmv(col("h")).as("uv_est"), count(lit(1)).as("pv_ct"))
      .orderBy(col("day"))
  }

  /** Approx twin of [[provinceStats]] (q03): the KMV sketch composed AFTER
    * the star join — per (region, nation), approximate distinct orders and
    * customers. Proves the sketch is a drop-in for COUNT(DISTINCT) in
    * joined/grouped plans: the exact form shuffles every distinct
    * (orderkey, custkey) per group; this ships two ≤ k-long sketches per
    * group per partition with map-side combine. */
  def provinceStatsApprox(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import graft.functions.{KmvDistinct, PortableHash}
    val kmv = KmvDistinct.columnAgg(k)
    Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        kmv(PortableHash.h60(col("o_orderkey").cast("string"))).as("order_est"),
        kmv(PortableHash.h60(col("o_custkey").cast("string"))).as("customer_est"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** T2 analogue (CEP jump-out detection, UserJumpApp.java:88-158): a
    * "jump" is an event with no follow-up from the same user within 10
    * minutes — batch form of the timeout side-output, via `lead`. The true
    * streaming form (EventTimeTimeout state) is graft.streaming.UserJump. */
  def jumpDetect(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("nxt", lead(col("ts"), 1).over(w))
      .filter(col("nxt").isNull || col("nxt") - col("ts") > lit(600L * 1000000000L))
      .select(col("user_id"), col("event_id"), tsSec.as("ts_sec"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** F3 analogue (session-entry filter, VisitorStatsApp.java:106-125): an
    * event opens a session if it is the user's first or follows a gap of
    * more than 30 minutes; count session entries per day. */
  def sessionEntries(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("prv", lag(col("ts"), 1).over(w))
      .filter(col("prv").isNull || col("ts") - col("prv") > lit(1800L * 1000000000L))
      .withColumn("day", day(tsSec))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("session_ct"))
      .orderBy(col("day"))
  }

  /** A7 analogue (ADS GMV query, gmall-publisher ProductStatsMapper.java:16-17):
    * daily GMV over orders. */
  def gmvPerDay(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders")
      .withColumn("day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .groupBy(col("day"))
      .agg(exactSum(col("o_totalprice")).as("gmv"),
           count(lit(1)).as("order_ct"))
      .orderBy(col("day"))
  }

  /** D1/J5/A5 analogue (keyword UDTF + lateral join + tumble count,
    * KeywordStatsApp.java:49-88): tokenize documents, explode, count per
    * keyword — explode IS Spark's lateral view. */
  def keywordCount(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(explode(graft.functions.Text.tokens(col("text"))).as("keyword"))
      .groupBy(col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .orderBy(col("keyword"))
  }

  /** D2/P7 analogue (KeywordProductUDTF unpivot, app/func/KeywordProductUDTF
    * .java:14-38): per event_type metrics unpivoted to (metric, value) rows,
    * zero rows dropped — pure built-ins, no UDTF. */
  def metricUnpivot(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("ct"),
           exactSum(col("value")).as("sum_value"))
      .select(col("event_type"),
        expr("stack(2, 'ct', ct, 'sum_value', sum_value) AS (metric, value)"))
      .filter(col("value") > 0)
      .orderBy(col("event_type"), col("metric"))
  }

  /** T1 analogue (new/old-visitor repair, BaseLogAPP.java:74-130): an event
    * is "new" iff it falls on the user's first-ever active day; daily new /
    * returning visitor event counts. Streaming twin:
    * graft.streaming.VisitorRepair. */
  def newVisitorStats(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id"))
    events(s, dir)
      .withColumn("day", day(tsSec))
      .withColumn("first_day", min(col("day")).over(wu))
      .groupBy(col("day"))
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_ct"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("old_ct"))
      .orderBy(col("day"))
  }

  /** P1 analogue (JSON parse, BaseLogAPP.java:64-70): parse the `props`
    * JSON payload with from_json and aggregate an extracted field. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .withColumn("k",
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
           count(when(col("k") > 50, 1)).as("big_k_ct"))
      .orderBy(col("event_type"))
  }

  /** K3 batch analogue (CDC snapshot compaction, DimSink.java:43-91 /
    * DynamicRouting.upsertDims): latest event per user — last-write-wins
    * by (ts, event_id), the upsert-compaction shape every CDC dim store
    * needs. */
  def latestEventPerUser(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsSec.as("ts_sec"))
      .orderBy(col("user_id"))
  }

  /** A6/D2 analogue (KeywordStats4ProductApp.java:61-66 — the double
    * lateral join): tokenize each doc (UDTF #1) crossed with its nonzero
    * metrics unpivoted (UDTF #2), aggregated per (keyword, source). */
  def keywordMetricCross(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        graft.functions.Text.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .select(col("n_chars"), col("n_tokens"),
        explode(col("toks")).as("keyword")) // lateral #1
      .select(col("keyword"),
        expr("stack(2, 'CHARS', n_chars, 'TOKENS', n_tokens) AS (source, ct)")) // lateral #2
      .filter(col("ct") > 0)
      .groupBy(col("keyword"), col("source"))
      .agg(sum(col("ct")).cast("long").as("sum_ct"), count(lit(1)).as("rows_ct"))
      .orderBy(col("keyword"), col("source"))
  }

  /** Session windows (beyond the reference — SURVEY.md §2.12 notes it has
    * only tumbling windows): gap-based sessionization via the native
    * `session_window` (merging session state, streaming-capable with a
    * watermark). Spark merges an event landing exactly at the previous
    * session's end (gap == duration): a new session opens only when the
    * gap is STRICTLY greater; the gaps-and-islands oracle mirrors that. */
  def sessionize(s: SparkSession, dir: String, gapSec: Long = 1800): DataFrame = {
    events(s, dir)
      .withColumn("ts_ts", timestamp_seconds(tsSec))
      .groupBy(col("user_id"), session_window(col("ts_ts"), s"$gapSec seconds"))
      .agg(count(lit(1)).as("n_events"),
        exactSum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q75: funnel conversion paths — ordered event-SEQUENCE matching, the
    * batch analogue of the reference's CEP pattern family
    * (UserJumpDetailApp.java:55-88 matches a 2-step within-10s sequence;
    * T2/q07 is its streaming twin). First-touch semantics make the match
    * deterministic: step 1 anchors at the user's EARLIEST view, each
    * later step at the earliest qualifying event STRICTLY after the
    * previous step, and the funnel converts if the whole path fits in the
    * window (24 h default — sized to the synthetic stream's event cadence
    * so both converting and stalling users exist at every SF). Per-user output row (not just totals) so the oracle hash
    * pins every matched path, not only the counts.
    *
    * Scale design: each step is a pushed-down event-type slice reduced by
    * a conditional min — three user-keyed aggregations over shrinking
    * frames (step-k input is semi-joined to step-k-1 survivors), never a
    * per-user sort or a sequence self-join; all arithmetic is integer µs. */
  def funnelPaths(s: SparkSession, dir: String,
                  windowUs: Long = 86400L * 1000000L): DataFrame =
    funnelPathsFrom(events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_type")),
      windowUs)
      .orderBy(col("user_id"))

  /** The q75 construction over any (user_id, us, event_type) frame.
    * Deliberately UNORDERED: q78/q79 aggregate over it, and a trailing
    * global sort here survives under q79's Generate (EliminateSorts does
    * not see through it) as a pointless rangepartition of the per-user
    * frame — q75 adds its declared ordering in the wrapper above. */
  def funnelPathsFrom(e: DataFrame,
                      windowUs: Long = 86400L * 1000000L): DataFrame = {
    def step(evType: String, prev: DataFrame, prevCols: Seq[String],
             out: String): DataFrame =
      e.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("us") > col(prevCols.last))
        .groupBy((Seq(col("user_id")) ++ prevCols.map(col)): _*)
        .agg(min(col("us")).as(out))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val t2 = step("click", t1, Seq("t1"), "t2")
    val t3 = step("purchase", t2, Seq("t1", "t2"), "t3")
    t1.join(t2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        (col("t2").isNotNull && col("t2") - col("t1") <= windowUs)
          .as("s2_in_window"),
        (col("t3").isNotNull && col("t3") - col("t1") <= windowUs)
          .as("converted"))
  }

  /** q113: NEGATIVE sequence matching — purchases reached from the first
    * view WITHOUT an intervening click, Flink CEP's `notFollowedBy` in
    * batch form (the reference's only CEP pattern, UserJumpApp's
    * entry-not-followed-by-page, is the streaming special case our
    * T2/q07 covers; this is the general absence-between-anchors report).
    * Anchors reuse q75's first-touch construction: t1 = first view,
    * tp = first purchase strictly after t1 (UNconditional on clicks),
    * tc = first click strictly after t1; the absence flag is then pure
    * arithmetic (`tc IS NULL OR tc > tp`) — no correlated NOT EXISTS
    * per row, so the plan stays three user-keyed conditional-min
    * aggregations (one shuffle key), the q75 scale shape. */
  def noClickPurchases(s: SparkSession, dir: String,
                       windowUs: Long = 86400L * 1000000L): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_type"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    def firstAfter(evType: String, out: String): DataFrame =
      e.filter(col("event_type") === evType)
        .join(t1, "user_id")
        .filter(col("us") > col("t1"))
        .groupBy(col("user_id"), col("t1"))
        .agg(min(col("us")).as(out))
        .select(col("user_id"), col(out))
    t1.join(firstAfter("purchase", "tp"), Seq("user_id"))
      .join(firstAfter("click", "tc"), Seq("user_id"), "left")
      .filter(col("tp") - col("t1") <= windowUs)
      .select(col("user_id"), col("t1"), col("tp"),
        when(col("tc").isNull || col("tc") > col("tp"), 1L).otherwise(0L)
          .as("no_click"))
      .orderBy(col("user_id"))
  }

  /** DuckDB oracle for [[noClickPurchases]]. */
  val noClickPurchasesSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
      |  FROM events),
      |t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |tp AS (SELECT e.user_id, MIN(us) AS tp FROM e JOIN t1 USING (user_id)
      |  WHERE event_type = 'purchase' AND us > t1 GROUP BY 1),
      |tc AS (SELECT e.user_id, MIN(us) AS tc FROM e JOIN t1 USING (user_id)
      |  WHERE event_type = 'click' AND us > t1 GROUP BY 1)
      |SELECT t1.user_id, t1.t1, tp.tp,
      |  CAST(CASE WHEN tc.tc IS NULL OR tc.tc > tp.tp THEN 1 ELSE 0 END
      |    AS BIGINT) AS no_click
      |FROM t1
      |JOIN tp ON tp.user_id = t1.user_id
      |LEFT JOIN tc ON tc.user_id = t1.user_id
      |WHERE tp.tp - t1.t1 <= 86400000000
      |ORDER BY t1.user_id""".stripMargin

  /** q74: TRUE per-session visitor stats — the upgrade of the reference's
    * sv metric, which only counts session ENTRIES
    * (VisitorStatsApp.java:106-125 increments sv when last_page_id is
    * empty and never sees the session again): with gap-based
    * sessionization each visit becomes one row carrying its page-view
    * count, dwell duration, and bounce flag. Built on the native
    * `session_window` (merging session state, streaming-capable —
    * SessionWindowSpec proves append-mode equality over this same frame);
    * the DuckDB oracle replays the gaps-and-islands construction q30
    * hash-proved equivalent to session_window's merge rule (a new session
    * only when the gap is STRICTLY greater). */
  def sessionVisitorStats(s: SparkSession, dir: String,
                          gapSec: Long = 1800): DataFrame = {
    events(s, dir)
      .select(col("user_id"), tsSec.as("sec"), col("event_type"))
      .withColumn("ts_ts", timestamp_seconds(col("sec")))
      .groupBy(col("user_id"), session_window(col("ts_ts"), s"$gapSec seconds"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("pv"),
        (max(col("sec")) - min(col("sec"))).as("duration_sec"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        col("n_events"), col("pv"), col("duration_sec"),
        (col("n_events") === 1L).as("is_bounce"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q78: conversion by signup cohort — the q68 × q75 composition every
    * growth team actually reads: users grouped by first-active day, each
    * cohort's funnel reach and conversion rate. One checkpointed event
    * projection feeds both the cohort firsts and the funnel's three step
    * slices (the q68/q73 materialization rationale); cohort rows are
    * days-sized so the final aggregate is metadata-scale. */
  def cohortConversion(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_type"))
      .transform(PinExplain.pin)
    val firsts = e
      .groupBy(col("user_id"))
      .agg(min(date_format(timestamp_seconds(expr("us div 1000000")),
        "yyyy-MM-dd")).as("cohort_day"))
    val conv = funnelPathsFrom(e)
      .select(col("user_id"), lit(true).as("in_funnel"), col("converted"))
    firsts.join(conv, Seq("user_id"), "left")
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        count(when(col("in_funnel"), 1)).as("n_in_funnel"),
        count(when(col("converted"), 1)).as("n_converted"))
      .select(col("cohort_day"), col("n_users"), col("n_in_funnel"),
        col("n_converted"),
        round(col("n_converted").cast("double") /
          col("n_users").cast("double"), 6).as("conv_rate"))
      .orderBy(col("cohort_day"))
  }

  /** q79: funnel step-duration quantiles — how LONG each funnel transition
    * takes, the latency companion to q75's reach counts: p50/p90/p99 of
    * view→click (users whose click landed in-window), click→purchase and
    * view→purchase (converted users), via the [[graft.functions.KmvQuantile]]
    * bottom-k-by-hash sketch so the oracle re-derives the SAME deterministic
    * sample (the q60 convention — bit-verifiable, unlike approx_percentile).
    *
    * Scale design: durations come straight off q75's per-user funnel frame
    * (three user-keyed aggs, no sequence self-join); `stack` unpivots the
    * three transitions without rescanning; the quantile shuffle then carries
    * ≤ k (hash, value) pairs per (step, partition) — 3 groups total, so the
    * final reduce is metadata-scale regardless of corpus size. */
  def funnelDurations(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val agg = graft.functions.KmvQuantile.columnAgg(k)
    funnelPathsFrom(events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("us"), col("event_type")))
      .select(expr(
        """stack(3,
          |  'view_to_click',     CASE WHEN s2_in_window THEN t2 - t1 END,
          |  'click_to_purchase', CASE WHEN converted    THEN t3 - t2 END,
          |  'view_to_purchase',  CASE WHEN converted    THEN t3 - t1 END
          |) AS (step, dur_us)""".stripMargin))
      .filter(col("dur_us").isNotNull)
      .select(col("step"),
        graft.functions.PortableHash.h60(col("dur_us").cast("string")).as("h"),
        col("dur_us").as("v"))
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_obs"), agg(col("h"), col("v")).as("q"))
      .select(col("step"), col("n_obs"), col("q._1").as("p50_us"),
        col("q._2").as("p90_us"), col("q._3").as("p99_us"))
      .orderBy(col("step"))
  }

  /** q83: rolling 7-day activity report — per-day event volume and exact
    * distinct actives plus a trailing-week RANGE-frame rollup (the DWS
    * trend panel the reference renders from per-window sums; a RANGE
    * frame over the day index handles calendar GAPS correctly, which a
    * ROWS frame would silently miscount).
    *
    * Scale design: the corpus-sized work is one day-keyed partial/final
    * aggregate; the rolling window then runs over ONE ROW PER DAY —
    * metadata scale, so the unpartitioned window is a non-issue (same
    * argument as q73's quad frame). */
  def rollingDaily(s: SparkSession, dir: String): DataFrame = {
    rollingDailyFrom(events(s, dir)
      .select(expr("ts div 86400000000000").as("day_num"),
        expr("ts div 1000000000").as("sec"), col("user_id"))
      .groupBy(col("day_num"))
      .agg(min(date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd"))
          .as("day"),
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_actives")))
  }

  /** The q86-style rolling stage over an already-reduced daily frame
    * (day_num, day, n_events, n_actives) — shared with the incremental
    * twin (`streaming/RollingStream`), whose maintained state IS that
    * frame. */
  def rollingDailyFrom(daily: DataFrame): DataFrame = {
    val wr = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    daily.select(col("day"), col("n_events"), col("n_actives"),
        sum(col("n_events")).over(wr).as("r7_events"),
        count(lit(1)).over(wr).as("r7_days"))
      .orderBy(col("day"))
  }

  /** q84: daily event-type pivot — the wide-format DWS panel (one column
    * per event type), the INVERSE of the reference's keyword unpivot UDTF
    * (A6/D2, KeywordStats4ProductApp.java:61-66): `groupBy(day).pivot`
    * with an EXPLICIT value list, so the output schema is static and the
    * plan is a single two-phase aggregate — no second pass to discover
    * pivot values, no per-type scan. Absent (day, type) cells are 0. */
  def pivotDaily(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, dir)
      .select(date_format(timestamp_seconds(tsSec), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)) :+
        types.map(t => coalesce(col(t), lit(0L))).reduce(_ + _).as("total"): _*)
      .orderBy(col("day"))
  }

  /** q85: hierarchical rollup — q01's pricing metrics at THREE grains in
    * one pass (per (flag, status), per-flag subtotal, grand total), the
    * multi-dimensional DWS cube the reference materializes as separate
    * per-grain apps. Spark's `rollup` expands the grouping sets inside a
    * single two-phase aggregate — the fact table is scanned and shuffled
    * ONCE for all three grains, not once per grain; `grouping_id`
    * disambiguates a real NULL dimension from a subtotal row. */
  def rollupPricing(s: SparkSession, dir: String): DataFrame = {
    // two-level: reduce to the (flag, status) partials FIRST (plain
    // two-phase aggregate over the scan), then rollup over the SIX-row
    // partial frame — the naive single `rollup` Expands every scan row
    // ×3 grains before its partial aggregate (A/B-measured 2.46 s vs
    // 1.18 s at sf0.1). Decimal partial sums re-sum exactly, so the
    // grains are bit-identical to the one-pass form.
    val detail = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("d"),
        count(lit(1)).as("n"))
    detail.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        sum(col("q")).cast("double").as("sum_qty"),
        sum(col("d")).cast("double").as("sum_disc_price"),
        sum(col("n")).as("count_order"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  /** q95: full CUBE over orders — order volume and exact revenue at ALL
    * 2³ grains of (status, priority, year), completing the grouping-sets
    * family (q84 pivot, q85 rollup). Spark expands the cube inside one
    * two-phase aggregate: the fact table is scanned and shuffled ONCE for
    * all eight grains. Scale shape: same two-level trick as q85 — reduce
    * to the (status, priority, year) partials FIRST (a few hundred rows),
    * then cube the partial frame; the naive single `cube` Expands every
    * scan row ×8 grains before its partial aggregate, 8× the shuffle for
    * identical results (decimal partials re-sum exactly). */
  def cubeOrders(s: SparkSession, dir: String): DataFrame = {
    val detail = Tables.load(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"), col("o_year"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("p"),
        count(lit(1)).as("n"))
    detail.cube(col("o_orderstatus"), col("o_orderpriority"), col("o_year"))
      .agg(grouping_id().as("gid"),
        sum(col("n")).as("order_ct"),
        sum(col("p")).cast("double").as("revenue"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_year"))
  }

  /** q92: cohort × step duration quantiles — the q78 × q79 composition:
    * funnel transition latencies per signup cohort, the panel that shows
    * whether NEWER cohorts convert faster. Same checkpointed event
    * projection feeds cohort firsts and the funnel frame (q78's
    * materialization rationale); the KMV quantile shuffle carries ≤ k
    * pairs per (cohort, step, partition) — days×3 groups, metadata
    * scale. */
  def cohortDurations(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val agg = graft.functions.KmvQuantile.columnAgg(k)
    val e = events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_type"))
      .transform(PinExplain.pin)
    val firsts = e.groupBy(col("user_id"))
      .agg(min(date_format(timestamp_seconds(expr("us div 1000000")),
        "yyyy-MM-dd")).as("cohort_day"))
    funnelPathsFrom(e)
      .join(firsts, Seq("user_id"))
      .select(col("cohort_day"), expr(
        """stack(3,
          |  'view_to_click',     CASE WHEN s2_in_window THEN t2 - t1 END,
          |  'click_to_purchase', CASE WHEN converted    THEN t3 - t2 END,
          |  'view_to_purchase',  CASE WHEN converted    THEN t3 - t1 END
          |) AS (step, dur_us)""".stripMargin))
      .filter(col("dur_us").isNotNull)
      .select(col("cohort_day"), col("step"),
        graft.functions.PortableHash.h60(col("dur_us").cast("string")).as("h"),
        col("dur_us").as("v"))
      .groupBy(col("cohort_day"), col("step"))
      .agg(count(lit(1)).as("n_obs"), agg(col("h"), col("v")).as("q"))
      .select(col("cohort_day"), col("step"), col("n_obs"),
        col("q._1").as("p50_us"), col("q._2").as("p90_us"),
        col("q._3").as("p99_us"))
      .orderBy(col("cohort_day"), col("step"))
  }

  /** q76: column profiling — the data-quality summary a pipeline computes
    * on every ingest (the ODS-layer audit the reference does by eyeballing
    * Kafka topics): per numeric column of the fact table, row count, null
    * count, exact distinct count, min and max. ONE pass over the table;
    * the five distinct-counts expand map-side and combine partial/final
    * (at 100 TB swap exact distincts for the KMV sketch — q51's declared
    * trade). min/max are raw column values (no arithmetic), so the hash
    * compare is exact. */
  def profileLineitem(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity",
      "l_extendedprice", "l_discount")
    val li = Tables.load(s, dir, "lineitem")
    // one single-column aggregate per profiled column, unioned: N distinct
    // counts in ONE agg make Spark Expand every scan row ×(N+1) across all
    // N columns (A/B-measured 2.63 s vs 1.02 s at sf0.1); per-column the
    // scan is pruned to that column and the distinct rewrite expands ×2
    // over one column's values only. The union still runs as one job.
    cols.map { c =>
        li.select(col(c).as("v"))
          .agg(count(lit(1)).as("n_rows"),
            count(when(col("v").isNull, 1)).as("n_nulls"),
            count_distinct(col("v")).as("n_distinct"),
            min(col("v")).cast("double").as("min_val"),
            max(col("v")).cast("double").as("max_val"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_val"), col("max_val"))
      }
      .reduce(_.unionByName(_))
      .orderBy(col("col_name"))
  }

  /** q77: referential-integrity audit — orphan foreign keys per relation
    * (the check that catches a broken CDC feed before it poisons every
    * downstream join; the reference's dim lookups silently drop such rows,
    * DimUtil.java:69-126 returning null). Left-anti joins against the
    * (broadcastable) parent key sets; orphan COUNT plus the count of
    * DISTINCT orphan keys so a single bad key repeated 10^9 times is
    * distinguishable from 10^9 bad keys. */
  def integrityAudit(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.load(s, dir, _: String)
    fkAudit("lineitem.partkey->part", t("lineitem"), "l_partkey", t("part"), "p_partkey")
      .unionByName(fkAudit("lineitem.orderkey->orders", t("lineitem"), "l_orderkey",
        t("orders"), "o_orderkey"))
      .unionByName(fkAudit("orders.custkey->customer", t("orders"), "o_custkey",
        t("customer"), "c_custkey"))
      .unionByName(fkAudit("customer.nationkey->nation", t("customer"), "c_nationkey",
        t("nation"), "n_nationkey"))
      .orderBy(col("relation"))
  }

  /** One relation's orphan audit. Orphan = NON-NULL fk without a parent:
    * left-anti keeps null keys (they match nothing) while SQL NOT IN drops
    * them — filtering nulls first gives both engines the same definition. */
  def fkAudit(rel: String, fact: DataFrame, fk: String,
              parent: DataFrame, pk: String): DataFrame =
    fact.select(col(fk).as("k")).filter(col("k").isNotNull)
      .join(broadcast(parent.select(col(pk).as("k"))), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"),
        count_distinct(col("k")).as("n_orphan_keys"))
      .select(lit(rel).as("relation"), col("n_orphans"),
        col("n_orphan_keys"))

  /** Sliding windows (beyond the reference): 1-hour windows sliding every
    * 30 min — each event contributes to two windows. */
  def slidingWindowStats(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .withColumn("ts_ts", timestamp_seconds(tsSec))
      .groupBy(window(col("ts_ts"), "3600 seconds", "1800 seconds"), col("event_type"))
      .agg(count(lit(1)).as("ct"), exactSum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("ct"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** Rollup / grouping sets (beyond the reference; OLAP staple): region →
    * nation hierarchy totals with coalesced 'ALL' labels so null handling
    * is engine-portable. */
  def regionRollup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("order_ct"), exactSum(col("o_totalprice")).as("amount"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("order_ct"), col("amount"))
      .orderBy(col("region"), col("nation"))
  }

  /** Exact percentiles (beyond the reference): linear-interpolation
    * median/p95 per group — Spark `percentile` and DuckDB `quantile_cont`
    * share the interpolation rule; rounded to 4 decimals for portability. */
  def pricePercentiles(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Deterministic averages (A-class breadth): exact decimal sums divided
    * by counts in double — engine-portable unlike native avg() over
    * doubles, whose partial-aggregation order varies. */
  def avgMetrics(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        exactAvg(col("l_quantity")).as("avg_qty"),
        exactAvg(col("l_extendedprice")).as("avg_price"),
        exactAvg(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Semi/anti joins (absent from the reference per SURVEY §2.6; engine
    * completeness): per market segment, customers with vs without orders.
    * Semi/anti shuffle only the key columns — at scale this is the correct
    * EXISTS/NOT EXISTS shape (never a count-distinct over a full join). */
  def customerOrderExistence(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders").select(col("o_custkey"))
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("with_orders"))
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("without_orders"))
    withOrders.join(withoutOrders, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("with_orders"), lit(0L)).as("with_orders"),
        coalesce(col("without_orders"), lit(0L)).as("without_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Running aggregate with a window frame (beyond the reference): per
    * supplier, cumulative exact-decimal revenue in shipdate order. */
  def runningRevenue(s: SparkSession, dir: String): DataFrame = {
    // l_extendedprice tiebreaker: the data contains duplicate
    // (orderkey, linenumber) keys, and a full tie in the sort makes prefix
    // sums order-dependent; ordering by the summed column itself makes any
    // remaining ties sum-identical, so the result is engine-portable
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "lineitem")
      .withColumn("running_rev",
        sum(col("l_extendedprice").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_rev"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Pivot (beyond the reference): events per day-of-week × event_type as
    * a cross-tab with an explicit value list (the scalable form — dynamic
    * pivot value discovery would need a driver-side pass). */
  def eventPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, dir)
      .withColumn("dow", date_format(timestamp_seconds(tsSec), "E"))
      .groupBy(col("dow"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("dow"))
  }

  /** U1/P7/A1 at full reference parity (ProductStatsApp.java:76-312): the
    * SEVEN-stream ProductStats union — click/display/favor/cart/order/
    * payment/refund/comment seeds over one unified 13-metric schema,
    * window-reduced per sku with three exact distinct-id sets — run through
    * the production [[graft.streaming.MetricUnion]] operator in batch mode.
    *
    * Fixture mapping (the sandbox has no dwd topics): page-interaction
    * streams come from `events` (click→click, view→display, signup→favor,
    * purchase→cart, error→comment with value>50 as a good appraise);
    * order/payment/refund streams come from `lineitem` (sku = partkey mod
    * 100, order id = orderkey, amounts = extendedprice, refunds =
    * returnflag 'R'; lineitem carries only l_shipdate, so payment shares
    * the ship timestamp). 1-day tumble. */
  /** Batch shape: AGGREGATE-NEAR-SOURCE. The streaming form unions seven
    * seeded streams then window-reduces (the reference's record-at-a-time
    * topology, [[graft.streaming.MetricUnion.productStats]] — still the
    * declared streaming operator, spec-tested). In batch, that union
    * shuffles every seed row (1.5M × 15 cols at sf0.1) into a 230k-group
    * set aggregation that Spark must run object/sort-based. Here each
    * SOURCE pre-aggregates with a codegen'd hash aggregate first — every
    * distinct-id column comes from exactly one source, so the exact
    * distinct counts are per-source single-column `count_distinct` (no
    * Expand, no collect_set) — and the final merge sums three already-
    * aggregated (window, sku)-sized frames. Identical results (zero-padded
    * metrics are additive identities; doubles only ever sum with 0.0 after
    * the decimal-exact per-source sums); measured 5.8 s → ~1.5 s at sf0.1.
    * This is also the 100 TB plan: partials collapse at the source and
    * only aggregate-sized frames meet. */
  def productStatsFull(s: SparkSession, dir: String): DataFrame = {
    val metricNames = Seq("click_ct", "display_ct", "favor_ct", "cart_ct",
      "order_sku_num", "order_amount", "order_ct", "payment_amount",
      "paid_order_ct", "refund_amount", "refund_order_ct",
      "comment_ct", "good_comment_ct")
    val longZero = Set("click_ct", "display_ct", "favor_ct", "cart_ct",
      "order_sku_num", "order_ct", "paid_order_ct", "refund_order_ct",
      "comment_ct", "good_comment_ct")
    // pad a per-source aggregate to the full 13-metric schema
    def pad(df: DataFrame, present: Set[String]): DataFrame =
      df.select(col("wstart") +: col("sku_id") +: metricNames.map { m =>
        if (present(m)) col(m)
        else if (longZero(m)) lit(0L).as(m) else lit(0.0).as(m)
      }: _*)
    val ev = events(s, dir)
      .withColumn("sku_id", (col("event_id") % 100).cast("string"))
      .withColumn("wstart", expr("((ts div 1000000000) div 86400) * 86400"))
    def ct(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L))
    val evAgg = ev
      .filter(col("event_type").isin("click", "view", "signup", "purchase", "error"))
      .groupBy(col("wstart"), col("sku_id"))
      .agg(ct("click").as("click_ct"), ct("view").as("display_ct"),
        ct("signup").as("favor_ct"), ct("purchase").as("cart_ct"),
        ct("error").as("comment_ct"),
        sum(when(col("event_type") === "error" && col("value") > 50.0, 1L)
          .otherwise(0L)).as("good_comment_ct"))
    val li = Tables.load(s, dir, "lineitem")
      .withColumn("sku_id", (col("l_partkey") % 100).cast("string"))
      .withColumn("wstart",
        expr("(unix_seconds(CAST(l_shipdate AS TIMESTAMP)) div 86400) * 86400"))
    // order + payment seeds cover the SAME lineitem rows (order id = paid
    // id = l_orderkey), so one scan produces both metric families
    val liAgg = li.groupBy(col("wstart"), col("sku_id"))
      .agg(sum(col("l_quantity").cast("long")).as("order_sku_num"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("order_amount"),
        count_distinct(col("l_orderkey")).as("order_ct"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("payment_amount"),
        count_distinct(col("l_orderkey")).as("paid_order_ct"))
    val refundAgg = li.filter(col("l_returnflag") === "R")
      .groupBy(col("wstart"), col("sku_id"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("refund_amount"),
        count_distinct(col("l_orderkey")).as("refund_order_ct"))
    val merged = pad(evAgg, Set("click_ct", "display_ct", "favor_ct",
        "cart_ct", "comment_ct", "good_comment_ct"))
      .unionByName(pad(liAgg, Set("order_sku_num", "order_amount", "order_ct",
        "payment_amount", "paid_order_ct")))
      .unionByName(pad(refundAgg, Set("refund_amount", "refund_order_ct")))
      .groupBy(col("wstart"), col("sku_id"))
      .agg(metricNames.map(m => sum(col(m)).as(m)).head,
        metricNames.map(m => sum(col(m)).as(m)).tail: _*)
    merged
      .withColumn("stt",
        date_format(timestamp_seconds(col("wstart")), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("edt",
        date_format(timestamp_seconds(col("wstart") + 86400), "yyyy-MM-dd HH:mm:ss"))
      .select(col("sku_id") +: metricNames.map(col) :+ col("stt") :+ col("edt"): _*)
      .orderBy(col("stt"), col("sku_id"))
  }

  /** J3/J4 analogue (OrderWideApp.java:155-281): the OrderWide enrichment
    * with the reference's DERIVED-AGE arithmetic — age in years =
    * millisecond difference div (1000·60·60·24·365), floored (J4,
    * OrderWideApp.java:176-186; the wall-clock "now" becomes the fixed
    * dataset horizon 1998-12-01 so the result is reproducible). Customer
    * plays the user dim (mktsegment ~ gender), nation the province dim,
    * part the sku dim — a 5-table enrichment star grouped to a compact
    * verifiable aggregate. */
  def orderWideEnriched(s: SparkSession, dir: String): DataFrame =
    orderWideEnrichedFrom(Tables.load(s, dir, _))

  /** [[orderWideEnriched]] over a pluggable table loader (see
    * [[starWideFrom]]). */
  def orderWideEnrichedFrom(load: String => DataFrame): DataFrame = {
    val li = load("lineitem")
    val o  = load("orders")
    val c  = load("customer")
    val n  = load("nation")
    val p  = load("part")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .withColumn("user_age", expr(
        // o_orderdate is parquet TIMESTAMP_NTZ; the UTC session makes the
        // cast a pure reinterpretation, matching DuckDB's epoch_ms
        "(unix_millis(TIMESTAMP '1998-12-01 00:00:00') - unix_millis(CAST(o_orderdate AS TIMESTAMP))) " +
          s"div ${graft.streaming.OrderWideEnrich.MsPerYear}"))
      .groupBy(col("n_name"), col("c_mktsegment"), col("p_brand"), col("user_age"))
      .agg(
        count(lit(1)).as("line_ct"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("n_name"), col("c_mktsegment"), col("p_brand"), col("user_age"))
  }

  /** U2/A2 at full reference parity (VisitorStatsApp.java:80-196): the
    * VisitorStats 4-way union — pv/sv, uv, and jump seeds over one unified
    * schema — window-reduced keyed by the reference's full
    * (vc, ch, ar, is_new) dimension key, run through the production
    * [[graft.streaming.WindowedStats.visitorStatsUnion]] operator in batch.
    *
    * Fixture mapping over `events`: vc = 'v'+(user_id mod 3), ch =
    * event_type, ar = 'a'+(user_id mod 5), is_new = value>50, session
    * entry = (event_id mod 7 = 0), during_time = event_id mod 60; the uv
    * stream is events with value<10, the jump stream value>90. 1 h tumble. */
  def visitorStatsFull(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("event_ts", timestamp_seconds(tsSec))
    def vc = concat(lit("v"), col("user_id") % 3)
    def ar = concat(lit("a"), col("user_id") % 5)
    def isNew = when(col("value") > 50.0, "1").otherwise("0")
    val pages = ev.select(
      struct(vc.as("vc"), col("event_type").as("ch"), ar.as("ar"),
        isNew.as("is_new"), col("user_id").cast("string").as("mid")).as("common"),
      struct(
        when(col("event_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(lit("p")).as("last_page_id"),
        (col("event_id") % 60).as("during_time")).as("page"),
      col("event_ts"))
    def dwm(f: DataFrame) = f.select(vc.as("vc"), col("event_type").as("ch"),
      ar.as("ar"), isNew.as("isNew"), col("event_ts").as("ts"))
    val uv = dwm(ev.filter(col("value") < 10.0))
    val jumps = dwm(ev.filter(col("value") > 90.0))
    graft.streaming.WindowedStats.visitorStatsUnion(pages, uv, jumps, "1 hour")
      .orderBy(col("stt"), col("vc"), col("ch"), col("ar"), col("is_new"))
  }

  /** q93: last-touch attribution — each purchase credited to the user's
    * most recent marketing touch (view or click) at or before the purchase
    * and within a 72 h lookback; purchases with no in-window touch are
    * 'organic'. The revenue-credit companion to q75's funnel (which counts
    * reach, not credit); the reference's closest shape is the process-time
    * dim lookup this family replaces with reproducible event-time
    * semantics (DimUtil.java getDimInfo).
    *
    * Scale shape: the [[AsOf.asOfJoin]] union-sort construction — ONE
    * user_id shuffle + one running ignoreNulls window, no per-purchase
    * range join against the touch history. Ties (a view and a click in
    * the same truncated microsecond) reduce to the highest event_id
    * BEFORE the as-of, so the winner is data-determined on both engines
    * (arg_max there, max(struct) here — the AsOf uniqueness contract). */
  def attributedPurchases(e: DataFrame,
                          lookbackUs: Long = 72L * 3600 * 1000000L): DataFrame = {
    val touches = e.filter(col("event_type").isin("view", "click"))
      .groupBy(col("user_id"), col("us"))
      .agg(max(struct(col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("us"), col("m.event_type").as("touch_type"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"), col("value"))
    graft.operators.AsOf.asOfJoin(purchases, touches, Seq("user_id"), "us",
        Seq("touch_type"))
      .withColumn("channel",
        when(col("asof_ts").isNotNull &&
             col("us") - col("asof_ts") <= lookbackUs,
          col("touch_type_asof")).otherwise(lit("organic")))
      .select(col("event_id"), col("user_id"), col("us"), col("value"),
        col("channel"))
  }

  def attributionFrom(e: DataFrame,
                      lookbackUs: Long = 72L * 3600 * 1000000L): DataFrame = {
    attributedPurchases(e, lookbackUs)
      .withColumn("day", day(expr("us div 1000000")))
      .groupBy(col("day"), col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("attributed_value"))
      .orderBy(col("day"), col("channel"))
  }

  def attributionReport(s: SparkSession, dir: String): DataFrame =
    attributionFrom(events(s, dir)
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"),
        col("event_type"), col("value")))

  /** q144: position-based (U-shaped) MULTI-touch attribution — q93 credits
    * the last touch only; this splits every purchase's 1 000 000 ppm of
    * credit across ALL its view/click touches in the 72 h lookback:
    * 40%/40% to first and last, 20% spread over the middles (integer
    * base + remainder-to-earliest so per-purchase credit sums to exactly
    * 1 000 000 — spec-asserted), touchless purchases land in an
    * 'organic' bucket. Attributed value is the exact decimal product
    * value·credit_ppm (micro-value units; the Exact money convention), so
    * the report is partitioning-invariant.
    *
    * Scale: one user-keyed interval join (per-user blowup bounded by the
    * lookback window), then per-purchase windows whose partitions are
    * purchase-sized — fine-grained keys, no skew funnel; the report
    * aggregate collapses to ≤ |classes|·|types| rows. */
  def multiTouchAttribution(s: SparkSession, dir: String): DataFrame =
    multiTouchAttributionFrom(events(s, dir)
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"),
        col("event_type"), col("value")))

  def multiTouchAttributionFrom(e: DataFrame,
                                lookbackUs: Long = 72L * 3600 * 1000000L)
  : DataFrame = {
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("puser"),
        col("us").as("pus"), col("value"))
    val t = e.filter(col("event_type").isin("view", "click"))
      .select(col("event_id").as("tid"), col("user_id").as("tuser"),
        col("us").as("tus"), col("event_type").as("touch_type"))
    multiTouchReport(multiTouchCredits(
      multiTouchJoin(p, t, lookbackUs)))
  }

  /** Purchase × in-window touch interval join (left: touchless purchases
    * survive with null touch). Shared by batch q144 and the streaming
    * twin so equality is structural. */
  def multiTouchJoin(p: DataFrame, t: DataFrame, lookbackUs: Long)
  : DataFrame =
    p.join(t,
      col("tuser") === col("puser") && col("tus") <= col("pus") &&
        col("tus") > col("pus") - lookbackUs, "left")

  /** Per-credit rows from the joined frame: U-shaped integer-ppm split
    * (remainder to earliest middles; per-purchase total exactly 1e6). */
  def multiTouchCredits(j: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("pid")).orderBy(col("tus"), col("tid"))
    val wAll = Window.partitionBy(col("pid"))
    j.withColumn("pos",
        when(col("tid").isNotNull, row_number().over(wOrd).cast("long")))
      .withColumn("m", count(col("tid")).over(wAll))
      .withColumn("credit_ppm", expr(
        """CASE WHEN m <= 1 THEN 1000000
          |     WHEN m = 2 THEN 500000
          |     WHEN pos = 1 OR pos = m THEN 400000
          |     ELSE 200000 div (m - 2) +
          |          (CASE WHEN pos - 1 <= 200000 % (m - 2) THEN 1 ELSE 0 END)
          |END""".stripMargin))
      .withColumn("position_class", expr(
        """CASE WHEN m = 0 THEN 'organic' WHEN m = 1 THEN 'only'
          |     WHEN pos = 1 THEN 'first' WHEN pos = m THEN 'last'
          |     ELSE 'middle' END""".stripMargin))
      .select(col("pid"), col("value"), col("tid"),
        coalesce(col("touch_type"), lit("none")).as("touch_type"),
        col("position_class"), col("credit_ppm"))
  }

  /** The classes × touch-types report over per-credit rows. */
  def multiTouchReport(credits: DataFrame): DataFrame =
    credits
      .groupBy(col("position_class"), col("touch_type"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit_ppm")).as("credit_ppm"),
        sum(graft.functions.Exact.money(col("value")) * col("credit_ppm"))
          .cast("double").as("attributed_micro"))
      .orderBy(col("position_class"), col("touch_type"))

  /** Ranking/top-k (beyond the reference — SURVEY.md §2.12 notes the
    * reference has none; a serving-layer staple): top-3 parts by revenue
    * within each brand. Deterministic tie-break on p_partkey. */
  def topPartsPerBrand(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val p  = Tables.load(s, dir, "part")
    val rev = li.groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
    val joined = rev.join(broadcast(p), col("l_partkey") === p("p_partkey"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("revenue").desc, col("p_partkey"))
    joined.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("p_brand"), col("rk"), col("p_partkey"), col("revenue"))
      .orderBy(col("p_brand"), col("rk"))
  }

  /** q121: session path mining — the 20 most common session-opening
    * event-type sequences (first 5 events per session, 10-minute
    * inactivity gap), the clickstream n-gram report UX/funnel teams read
    * to discover journeys they have NOT hand-declared (q75's funnel needs
    * the pattern up front; this surfaces the patterns).
    *
    * Shape: sessionization is the q97 gaps-and-islands pass (one
    * user-keyed window; the running `brk` sum extends the partition key,
    * no second exchange), each session folds to ONE path row via a
    * sorted-struct collect (q107's determinism convention: array_sort on
    * (ts, event_id, type) structs is a total order, so the collected list
    * is partitioning-invariant; ≤ 5 elements survive the slice), and the
    * final top-k is an orderBy+limit — planned as TakeOrderedAndProject
    * (per-partition heaps + driver merge of k rows), never a global sort.
    * Ties break by path string, so the cut is data-determined. */
  def sessionPaths(s: SparkSession, dir: String, gapNs: Long = 600000000000L,
                   maxLen: Int = 5, topK: Int = 20): DataFrame =
    sessionPathsFrom(Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      gapNs, maxLen, topK)

  /** The sessionize→fold→top-k core over a (user_id, ts, event_id,
    * event_type) frame with epoch-ns ts. */
  def sessionPathsFrom(e: DataFrame, gapNs: Long, maxLen: Int,
                       topK: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = e
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("ts") - col("prev") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(w))
    sess.groupBy(col("user_id"), col("sid"))
      .agg(concat_ws(">", slice(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type")), 1, maxLen)).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** DuckDB oracle for [[sessionPaths]]. */
  def sessionPathsSql(gapNs: Long = 600000000000L, maxLen: Int = 5,
                      topK: Int = 20): String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id,
       |    event_type FROM events),
       |s AS (SELECT *, CASE WHEN lag(tns) OVER w IS NULL
       |      OR tns - lag(tns) OVER w > $gapNs THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
       |s2 AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
       |    ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s),
       |p AS (SELECT user_id, sid, array_to_string(
       |    (list(event_type ORDER BY tns, event_id))[1:$maxLen], '>')
       |    AS path
       |  FROM s2 GROUP BY 1, 2),
       |c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM p
       |  GROUP BY 1)
       |SELECT path, n_sessions FROM c
       |ORDER BY n_sessions DESC, path LIMIT $topK""".stripMargin
}
