package graft.bench

import graft.apps.{LayeredPipeline, Serve}
import graft.sources.Kafka
import graft.streaming.VersionedState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable

/** `chain_live`: one producer, closed loop. Each cycle appends one ODS
  * micro-batch ([[perCycle]]: orders on a live 30-day window, visit logs
  * of a rotating mid population, page logs sampled from `documents`),
  * waits until the seven concurrently running hops have drained,
  * publishes the DWS tables into a fresh warehouse directory
  * (`publishDws` appends, so reusing one directory would rewrite and
  * double every day) and reads the newest day's GMV through a fresh
  * [[Serve]]. Freshness is the time from the append to the moment
  * `Serve` returns the correct value. */
final class ChainLive(spark: SparkSession, a: Harness.Args, dir: String,
                      tracer: Option[Tracer])
    extends Workload(spark, a, dir, tracer) {
  import ChainLive._

  /** One cycle's ODS micro-batch, 16,200 rows. A cycle takes about 8 s
    * on 4 cores, of which about 1 s grows with the rows; README.md lists
    * the sizes measured. */
  val perCycle = if (a.tiny) PrimeMix else Mix(orders = 6000, visits = 9000, pages = 1200)
  /** Event-time width of one cycle's visit slice. */
  val sliceMs = 3600L * 1000L
  val retainVersions = 7L
  /** Two cycles in an untraced run (`latency_ms_tail` is their p75), one
    * in a traced half or segment. */
  def minWork(traced: Boolean): Int = if (traced) 1 else 2

  private var nCust = 0L
  private var docs: Array[(Long, String)] = Array.empty
  private var chain: Chain = _
  private var cycle = 0
  private var visitMaxMs = 0L
  /** Everything fed to the ODS, kept for the batch twins. */
  private val orders = mutable.ArrayBuffer[(Long, Long, Int, Long)]()
  private val visits = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val pages = mutable.ArrayBuffer[Int]()
  private val gmvCents = mutable.Map[Int, Long]()
  private val cycleRows = mutable.ArrayBuffer[Int]()

  // per-cycle layer numbers (kept always; cheap)
  val publishMs = mutable.ArrayBuffer[Double]()
  val openMs = mutable.ArrayBuffer[Double]()
  val coldLookupMs = mutable.ArrayBuffer[Double]()
  var filesWritten = 0L
  var bytesWritten = 0L

  /** The customer table is the order-wide hop's dimension snapshot. */
  private def dim = s"${args.data}/customer.parquet"

  def prepare(): Unit = {
    nCust = spark.read.parquet(dim).count()
    docs = graft.Tables.load(spark, args.data, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
  }

  /** Cycle `i`'s ODS lines; records what it fed. Deterministic in
    * (seed, i): the generator is the only source of the program's input. */
  private def generate(i: Int, mix: Mix): Seq[String] = {
    val rng = new java.util.SplittableRandom(args.seed * 1000003L + i)
    val newest = Day0 + i
    val lines = mutable.ArrayBuffer[String]()
    for (k <- 0 until mix.orders) {
      val key = orders.size.toLong
      val cust = rng.nextLong(nCust)
      val day = if (k == 0) newest else newest - rng.nextInt(30)
      val cents = 100000L + rng.nextLong(49900000L)
      orders += ((key, cust, day, cents))
      gmvCents(day) = gmvCents.getOrElse(day, 0L) + cents
      lines += s"""{"tbl":"order_info","o_orderkey":$key,"o_custkey":$cust,""" +
        s""""o_orderdate":"${isoDay(day)}","o_totalprice":${money(cents)}}"""
    }
    // visit slice [i*slice, (i+1)*slice): distinct ms, rotating population
    val pop = math.max(4, mix.visits / 6)
    val popBase = i.toLong * pop / 4
    val sliceStart = VisitEpochMs + i * sliceMs
    val offs = Array.fill(mix.visits)(rng.nextLong(sliceMs)).distinct.sorted
    offs.foreach { o =>
      val id = visits.size.toLong
      val mid = popBase + rng.nextInt(pop)
      val ts = sliceStart + o
      visits += ((id, mid, ts))
      visitMaxMs = math.max(visitMaxMs, ts)
      lines += visitLine(mid.toString, id.toString, ts)
    }
    for (_ <- 0 until mix.pages) {
      val d = rng.nextInt(docs.length)
      pages += d
      lines += s"""{"tbl":"page_log","doc_id":${docs(d)._1},"text":${Json.str(docs(d)._2)}}"""
    }
    cycleRows += lines.size
    lines.toSeq
  }

  /** Set-up: start the seven hops on fresh ledgers and state and prime
    * them with a small cycle 0 until every hop has run, so that set-up
    * time does not grow with the cycle size. The last set-up's chain is
    * the one measured; earlier ones are stopped and deleted. */
  def setup(rep: Int): Unit = {
    if (chain != null) { chain.stop(); Harness.rmrf(new java.io.File(chain.root)) }
    orders.clear(); visits.clear(); pages.clear(); gmvCents.clear()
    cycleRows.clear(); visitMaxMs = 0L
    Harness.rmrf(new java.io.File(s"$dir/rep$rep"))
    chain = new Chain(spark, s"$dir/rep$rep", dim, tracer)
    cycle = 0
    chain.startOds()
    chain.input.addData(generate(0, PrimeMix): _*)
    chain.ods.processAllAvailable()
    chain.startDwd()
    chain.startDwm()
  }

  /** Publish the current states and check the newest day through a fresh
    * Serve; true when the served value is correct. */
  private def serveCycle(i: Int): Boolean = {
    val wh = s"${chain.root}/wh_$i"
    val t0 = Harness.nowMs()
    span("sinks.publish", "sinks", s"cycle-$i") {
      LayeredPipeline.publishDws(spark, chain.gmvSt, chain.kwSt, wh)
      LayeredPipeline.publishVisitorDws(spark, chain.visitorSt, wh)
    }
    val t1 = Harness.nowMs()
    val serve = span("serve.open", "serve", s"cycle-$i")(Serve(spark, wh))
    val t2 = Harness.nowMs()
    val day = Day0 + i
    val got = span("serve.lookup", "serve", s"cycle-$i")(serve.gmv(yyyymmdd(day)))
    val t3 = Harness.nowMs()
    publishMs += t1 - t0; openMs += t2 - t1; coldLookupMs += t3 - t2
    val (f, b) = Harness.du(wh)
    filesWritten += f; bytesWritten += b
    Harness.rmrf(new java.io.File(s"${chain.root}/wh_${i - 1}"))
    got.compareTo(java.math.BigDecimal.valueOf(gmvCents(day), 2)) == 0
  }

  def measure(seconds: Double, min: Int, res: Result): Phase = {
    val fresh = mutable.ArrayBuffer[Double]()
    val rows0 = cycleRows.sum
    val cycle0 = cycle
    val t0 = Harness.nowMs()
    var ok = true
    while (ok && (Harness.nowMs() - t0 < seconds * 1e3 || cycle - cycle0 < min)) {
      cycle += 1
      val i = cycle
      res.attempted += 1
      val lines = generate(i, perCycle)
      try {
        val c0 = Harness.nowMs()
        span("ods.append", "harness", s"cycle-$i")(chain.input.addData(lines: _*))
        span("chain.drain", "harness", s"cycle-$i")(chain.drain())
        if (serveCycle(i)) fresh += Harness.nowMs() - c0
        else res.fail(s"chain_live cycle $i: served GMV differs from the fed orders")
        chain.expire(retainVersions)
      } catch {
        case e: Exception =>
          res.fail(s"chain_live cycle $i: ${e.getClass.getName}: ${e.getMessage}")
          ok = false
      }
    }
    val wall = Harness.nowMs() - t0
    res.notes += s"chain_live freshness ms: ${fresh.map(_.round).mkString(" ")}"
    Phase(fresh.toSeq, Harness.pct(fresh.toSeq, 0.75), (cycleRows.sum - rows0).toDouble, wall)
  }

  /** Push the watermark past every fed visit, drain, and compare the
    * final GMV, UV, jump and keyword states with the batch twins q09,
    * q06, q07 and q10 over the fed rows written as tables. */
  def finish(res: Result): Unit = {
    try {
      chain.input.addData(visitLine(Sentinel, "s", visitMaxMs + 2000000L))
      chain.drain()
      val tables = s"$dir/fed_tables"
      writeFedTables(tables)
      val checks = Seq(
        "q09 gmv" -> sameRows(
          VersionedState.read(spark, chain.gmvSt, sys.error("no gmv state"))
            .select(col("day"), col("gmv").cast("double"), col("order_ct")),
          graft.operators.RefQueries.gmvPerDay(spark, tables)),
        "q10 keywords" -> sameRows(
          VersionedState.read(spark, chain.kwSt, sys.error("no keyword state")),
          graft.operators.RefQueries.keywordCount(spark, tables)),
        "q06 uv" -> sameRows(
          VersionedState.read(spark, chain.visitorSt, sys.error("no visitor state"))
            .select(col("day"), col("uv_ct")),
          graft.operators.RefQueries.uvPerDay(spark, tables)
            .select(col("day"), col("uv_ct"))),
        "q07 jumps" -> sameRows(
          VersionedState.read(spark, chain.visitorSt, sys.error("no visitor state"))
            .filter(col("uj_ct") > 0).select(col("day"), col("uj_ct")),
          graft.operators.RefQueries.jumpDetect(spark, tables)
            .select(date_format(timestamp_seconds(col("ts_sec")), "yyyy-MM-dd").as("day"))
            .groupBy(col("day")).agg(count(lit(1)).as("uj_ct"))))
      checks.foreach { case (name, ok) =>
        if (!ok) res.fail(s"chain_live final state differs from batch $name")
      }
    } finally chain.stop()
  }

  /** Stops the chain; its final-state checks need the whole fed history
    * and run when `chain_live` is named. */
  override def finishSegment(res: Result): Unit = chain.stop()

  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(d: DataFrame) = d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\u0001")).toSeq
    rows(a) == rows(b)
  }

  private def writeFedTables(out: String): Unit = {
    import spark.implicits._
    Harness.rmrf(new java.io.File(out))
    orders.toSeq.toDF("o_orderkey", "o_custkey", "day", "cents")
      .select(col("o_orderkey"), col("o_custkey"),
        lit("O").as("o_orderstatus"),
        (col("cents") / 100.0).as("o_totalprice"),
        to_timestamp_ntz(date_from_unix_date(col("day"))).as("o_orderdate"),
        lit("3-MEDIUM").as("o_orderpriority"))
      .coalesce(1).write.parquet(s"$out/orders.parquet")
    visits.toSeq.toDF("event_id", "user_id", "ms")
      .select(col("event_id"),
        to_timestamp_ntz(timestamp_millis(col("ms"))).as("ts"),
        col("user_id"), lit("view").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$out/events.parquet")
    pages.toSeq.map(d => docs(d)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$out/documents.parquet")
  }

  override def layerMetrics(res: Result): Unit = {
    val t = tracer.get
    val hops = t.hopBatches.groupBy(_._1)
    HopNames.foreach { h =>
      val ps = hops.getOrElse(h, Nil).map(_._2)
      def d(k: String) = Workload.p50(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
      res.metric(s"hop.$h.batch_ms.p50", d("triggerExecution"), "ms")
      res.metric(s"hop.$h.add_batch_ms.p50", d("addBatch"), "ms")
      res.metric(s"hop.$h.latest_offset_ms.p50", d("latestOffset"), "ms")
      res.metric(s"hop.$h.planning_ms.p50", d("queryPlanning"), "ms")
      res.metric(s"hop.$h.wal_commit_ms.p50", d("walCommit"), "ms")
      res.metric(s"hop.$h.rows_in", ps.map(_.numInputRows).sum.toDouble, "count")
      res.metric(s"hop.$h.batches", ps.size.toDouble, "count")
    }
    val ledgers = Seq(chain.dwdLedger, chain.dwmLedger, chain.uvLedger, chain.jumpLedger)
    res.metric("sources.segments_live",
      ledgers.map(l => VersionedState.committedVersions(spark, l).size).sum.toDouble, "count")
    res.metric("sources.ledger_bytes", ledgers.map(l => Harness.du(l)._2).sum.toDouble, "bytes")
    val stateful = Seq("dwd_uv", "dwd_jump").flatMap(h => hops.getOrElse(h, Nil).map(_._2))
    val last = Seq("dwd_uv", "dwd_jump").flatMap(h => hops.getOrElse(h, Nil).lastOption.map(_._2))
    res.metric("streaming.state_rows",
      last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble, "count")
    res.metric("streaming.state_mem_bytes",
      last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble, "bytes")
    res.metric("streaming.state_commit_ms.p50",
      Workload.p50(stateful.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble))), "ms")
    res.metric("streaming.versioned_state_bytes",
      Seq(chain.gmvSt, chain.kwSt, chain.visitorSt).map(s => Harness.du(s)._2).sum.toDouble,
      "bytes")
    res.metric("sinks.publish_ms.p50", Workload.p50(publishMs), "ms")
    res.metric("sinks.files_written", filesWritten.toDouble, "count")
    res.metric("sinks.bytes_written", bytesWritten.toDouble, "bytes")
    res.metric("serve.open_ms.p50", Workload.p50(openMs), "ms")
    res.metric("serve.cold_lookup_ms.p50", Workload.p50(coldLookupMs), "ms")
  }
}

object ChainLive {
  /** Rows of each ODS table in one cycle's micro-batch. */
  final case class Mix(orders: Int, visits: Int, pages: Int)
  /** The set-up's priming cycle, and every cycle at `--scale tiny`. */
  val PrimeMix = Mix(orders = 40, visits = 60, pages = 10)
  val HopNames = Seq("ods_dwd", "dwd_order_wide", "dwd_keyword", "dwd_uv",
    "dwd_jump", "dwm_gmv", "dwm_visitor")
  val Sentinel = "__wm__"
  /** 2021-03-01 as an epoch day: cycle i's newest order day is Day0 + i. */
  val Day0: Int = java.time.LocalDate.parse("2021-03-01").toEpochDay.toInt
  val VisitEpochMs: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  def isoDay(d: Int): String = java.time.LocalDate.ofEpochDay(d.toLong) + "T00:00:00.000Z"
  def yyyymmdd(d: Int): Int = {
    val x = java.time.LocalDate.ofEpochDay(d.toLong)
    x.getYear * 10000 + x.getMonthValue * 100 + x.getDayOfMonth
  }
  def money(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString
  def visitLine(mid: String, page: String, ms: Long): String =
    s"""{"tbl":"visit_log","mid":"$mid","pageId":"$page","lastPageId":"",""" +
      s""""isNew":"0","ts":"${java.time.Instant.ofEpochMilli(ms)}"}"""

  /** Hops whose sink is a [[VersionedState]] transaction; the other four
    * produce to a ledger with `Kafka.txnProduce`. */
  val StateHops = Set("dwd_keyword", "dwm_gmv", "dwm_visitor")

  /** A hop micro-batch's time split into layers, from its progress event:
    *  - `streaming`: all of a [[VersionedState]] hop's `addBatch`; in a
    *    producing hop, its RocksDB state operators' update, removal and
    *    commit time (summed over tasks, so capped at `addBatch`);
    *  - `sources`: the rest of a producing hop's `addBatch` (the
    *    `txnProduce` write, with the hop's own transform that runs inside
    *    it) and a ledger consumer's `latestOffset` and `getBatch` (the
    *    file source listing the committed segments);
    *  - `pipeline`: the rest of `triggerExecution`: planning, and the
    *    offset log and commit log of the hop's own checkpoint. */
  def hopSplit(hop: String, p: StreamingQueryProgress): Seq[(String, Double)] = {
    def ms(k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val add = ms("addBatch")
    val state = p.stateOperators.map(o =>
      o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).sum.toDouble
    val streaming = if (StateHops(hop)) add else math.min(add, state)
    // ods_dwd reads the harness's in-memory ODS, not a ledger
    val listing = if (hop == "ods_dwd") 0.0 else ms("latestOffset") + ms("getBatch")
    val sources = add - streaming + listing
    Seq("streaming" -> streaming, "sources" -> sources,
      "pipeline" -> math.max(0.0, ms("triggerExecution") - streaming - sources))
  }

  /** The seven hops over one set of ledgers, state and checkpoints. */
  final class Chain(spark: SparkSession, val root: String, dim: String,
                    tracer: Option[Tracer]) {
    val dwdLedger = s"$root/ledger_dwd"; val dwmLedger = s"$root/ledger_dwm"
    val uvLedger = s"$root/ledger_dwm_uv"; val jumpLedger = s"$root/ledger_dwm_jump"
    val gmvSt = s"$root/state_gmv"; val kwSt = s"$root/state_kw"
    val visitorSt = s"$root/state_visitor"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input: MemoryStream[String] = MemoryStream[String]
    /** Hops in topological order: draining them in this order drains the chain. */
    val hops = mutable.LinkedHashMap[String, StreamingQuery]()
    def ods: StreamingQuery = hops("ods_dwd")

    private def start(name: String)(q: => StreamingQuery): Unit = {
      val started = q
      tracer.foreach(_.hopOf.put(started.id.toString, name))
      hops(name) = started
    }
    private def ck(h: String) = s"$root/ck_$h"

    def startOds(): Unit =
      start("ods_dwd")(LayeredPipeline.odsToDwd(input.toDF().toDF("value"),
        dwdLedger, ck("ods_dwd")))

    def startDwd(): Unit = {
      start("dwd_order_wide")(LayeredPipeline.dwdOrdersToDwm(spark, dwdLedger,
        dim, dwmLedger, ck("dwd_order_wide")))
      start("dwd_keyword")(LayeredPipeline.dwdLogsToKeywordState(spark,
        dwdLedger, kwSt, ck("dwd_keyword")))
      start("dwd_uv")(LayeredPipeline.dwdVisitsToUv(spark, dwdLedger, uvLedger,
        ck("dwd_uv"), wmSentinel = Sentinel))
      start("dwd_jump")(LayeredPipeline.dwdVisitsToJump(spark, dwdLedger,
        jumpLedger, ck("dwd_jump"), wmSentinel = Sentinel))
      hops.values.foreach(_.processAllAvailable())
    }

    /** The DWM consumers start once their topics have a committed segment. */
    def startDwm(): Unit = {
      val need = Seq(s"$dwmLedger/v=*/topic=dwm_order_wide",
        s"$uvLedger/v=*/topic=dwm_unique_visit", s"$jumpLedger/v=*/topic=dwm_user_jump")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deadline = System.nanoTime() + 60000000000L
      while (!need.forall(g => Option(fs.globStatus(new org.apache.hadoop.fs.Path(g)))
          .exists(_.nonEmpty))) {
        if (System.nanoTime() > deadline) sys.error(s"DWM topics never appeared: $need")
        hops.values.foreach(_.processAllAvailable())
      }
      start("dwm_gmv")(LayeredPipeline.dwmToGmvState(spark, dwmLedger, gmvSt, ck("dwm_gmv")))
      start("dwm_visitor")(LayeredPipeline.dwmVisitsToVisitorState(spark, uvLedger,
        jumpLedger, visitorSt, ck("dwm_visitor")))
      drain()
    }

    def drain(): Unit = hops.values.foreach(_.processAllAvailable())

    /** Ledger retention, as a deployment runs it: keep the newest versions. */
    def expire(keep: Long): Unit =
      Seq(dwdLedger, dwmLedger, uvLedger, jumpLedger).foreach { l =>
        VersionedState.latestVersion(spark, l).foreach(v =>
          Kafka.expireSegments(spark, l, v - keep))
      }

    def stop(): Unit = hops.values.foreach(q => try q.stop() catch {
      case e: Exception => System.err.println(s"stop ${q.name}: $e")
    })
  }
}
