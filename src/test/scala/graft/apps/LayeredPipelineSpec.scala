package graft.apps

import graft.SparkSpec
import graft.sources.Kafka
import graft.streaming.VersionedState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** VERDICT r11 #2: the reference's deployment shape as SEPARATE
  * concurrent streaming queries handing off through K2-EO ledger dirs
  * (the topic analogue), on real sf0.001 data:
  *
  *   ODS → [odsToDwd] → dwd ledger → [dwdOrdersToDwm] → dwm ledger →
  *   [dwmToGmvState] → GMV state;  dwd ledger → [dwdLogsToKeywordState]
  *   → keyword state;  states → publishDws → Serve.
  *
  * Gates: the mid-chain consumer is KILLED between feeds and restarted
  * from its checkpoint; a replayed (already-committed) produce changes
  * nothing; the final GMV equals batch q09 day-for-day (and through
  * Serve.gmv for sampled days), the keyword panel equals batch q10
  * (full counts and the served top-10). */
class LayeredPipelineSpec extends SparkSpec {

  test("ODS→DWD→DWM→DWS→Serve over the ledger; mid-chain restart; replay no-op") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val stage =
      java.nio.file.Files.createTempDirectory("graft-layered").toString
    val dwdLedger = s"$stage/ledger_dwd"; val dwmLedger = s"$stage/ledger_dwm"
    val gmvSt = s"$stage/state_gmv"; val kwSt = s"$stage/state_kw"
    val wh = s"$stage/wh"; val dimDir = s"$stage/dim_customer"
    graft.Tables.load(s, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment")).write.parquet(dimDir)

    // real sf0.001 rows as the ODS stream: a 1995-and-earlier order slice
    // (bounds the DWS day-partition fan-out) + the full documents table,
    // both tagged with their CDC table name
    val cutoff = "1996-01-01"
    val orderLines = graft.Tables.load(s, sf, "orders")
      .filter(col("o_orderdate") < to_timestamp(lit(cutoff)))
      .select(lit("order_info").as("tbl"), col("o_orderkey"),
        col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .toJSON.collect()
    val docLines = graft.Tables.load(s, sf, "documents")
      .select(lit("page_log").as("tbl"), col("doc_id"), col("text"))
      .toJSON.collect()
    assert(orderLines.length > 100 && docLines.length > 100)
    // four feeds, each carrying both row kinds
    def chunk(lines: Array[String], i: Int): Seq[String] =
      lines.zipWithIndex.collect { case (l, j) if j % 4 == i => l }.toSeq
    def feed(i: Int): Seq[String] = chunk(orderLines, i) ++ chunk(docLines, i)

    val input = MemoryStream[String]
    val q1 = LayeredPipeline.odsToDwd(input.toDF().toDF("value"),
      dwdLedger, s"$stage/ck1")
    input.addData(feed(0): _*)
    q1.processAllAvailable() // dwd v=0 committed: both topic dirs exist
    var q2 = LayeredPipeline.dwdOrdersToDwm(s, dwdLedger, dimDir,
      dwmLedger, s"$stage/ck2")
    val q4 = LayeredPipeline.dwdLogsToKeywordState(s, dwdLedger, kwSt,
      s"$stage/ck4")
    q2.processAllAvailable() // dwm v=0 committed before its consumer starts
    val q3 = LayeredPipeline.dwmToGmvState(s, dwmLedger, gmvSt,
      s"$stage/ck3")
    q3.processAllAvailable(); q4.processAllAvailable()

    input.addData(feed(1): _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    q3.processAllAvailable(); q4.processAllAvailable()

    // mid-chain kill: the DWD→DWM hop dies; upstream and the keyword
    // branch keep flowing through the ledger while it is down
    q2.stop()
    input.addData(feed(2): _*)
    q1.processAllAvailable(); q4.processAllAvailable()
    // restart from the same checkpoint; it must drain the backlog
    q2 = LayeredPipeline.dwdOrdersToDwm(s, dwdLedger, dimDir,
      dwmLedger, s"$stage/ck2")
    q2.processAllAvailable(); q3.processAllAvailable()

    input.addData(feed(3): _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    q3.processAllAvailable(); q4.processAllAvailable()
    q1.stop(); q2.stop(); q3.stop(); q4.stop()

    // ---- replay changes nothing: an already-committed segment id is
    // skipped by the ledger at BOTH hops, so consumers restarted after
    // the replay see no new files and the states keep their versions
    val gmvV = VersionedState.latestVersion(s, gmvSt)
    val kwV = VersionedState.latestVersion(s, kwSt)
    assert(!Kafka.txnProduce(
      Seq(("dwd_order_info", """{"tbl":"order_info"}"""))
        .toDF("topic", "value"), dwdLedger, 0L))
    assert(!Kafka.txnProduce(
      Seq(("dwm_order_wide", """{"day":"1995-01-01"}"""))
        .toDF("topic", "value"), dwmLedger, 0L))
    val q2r = LayeredPipeline.dwdOrdersToDwm(s, dwdLedger, dimDir,
      dwmLedger, s"$stage/ck2")
    val q3r = LayeredPipeline.dwmToGmvState(s, dwmLedger, gmvSt,
      s"$stage/ck3")
    val q4r = LayeredPipeline.dwdLogsToKeywordState(s, dwdLedger, kwSt,
      s"$stage/ck4")
    q2r.processAllAvailable(); q3r.processAllAvailable()
    q4r.processAllAvailable()
    q2r.stop(); q3r.stop(); q4r.stop()
    assert(VersionedState.latestVersion(s, gmvSt) === gmvV)
    assert(VersionedState.latestVersion(s, kwSt) === kwV)

    // ---- batch truths: q09 (restricted to the streamed slice) and q10
    val batchGmv = graft.operators.RefQueries.gmvPerDay(s, sf)
      .filter(col("day") < cutoff).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val chainGmv = VersionedState.read(s, gmvSt,
        fail("gmv state must exist")).collect()
      .map(r => r.getString(0) ->
        ((r.getDecimal(1).doubleValue(), r.getLong(2)))).toMap
    assert(chainGmv === batchGmv)
    val batchKw = graft.operators.RefQueries.keywordCount(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val chainKw = VersionedState.read(s, kwSt,
        fail("keyword state must exist"))
      .orderBy(col("keyword")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(chainKw.toSeq === batchKw.toSeq)

    // ---- the serving layer answers from the published DWS tables
    LayeredPipeline.publishDws(s, gmvSt, kwSt, wh)
    val serve = Serve(s, wh)
    batchGmv.toSeq.sortBy(_._1).take(3).foreach { case (day, (g, _)) =>
      assert(serve.gmv(day.replace("-", "").toInt).doubleValue() === g)
    }
    val expectedTop = batchKw.sortBy { case (k, c) => (-c, k) }.take(10)
    val servedTop = serve.keywordTop(20210227, 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(servedTop.toSeq === expectedTop.toSeq)
  }

  test("DWM state-heavy hop: UV + jump through the ledger equal batch q06/q07") {
    // VERDICT r12 #3: the reference's keyed-state-heavy DWM consumers
    // (UniqueVisitApp/UserJumpApp) as ledger hops — dwd_visit_log →
    // [uniqueVisit | userJump] → dwm topics → one VisitorStats-shaped
    // day-grain state, with the UV consumer killed and restarted
    // mid-chain (RocksDB checkpoint restore) and a replayed produce a
    // no-op. Gates: chain uv_ct equals batch q06 day-for-day; chain
    // uj_ct equals batch q07 (gap 600 s) aggregated per day.
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withRocksDb {
      val stage =
        java.nio.file.Files.createTempDirectory("graft-layered-dwm").toString
      val dwdLedger = s"$stage/ledger_dwd"
      // one ledger dir per DWM producer: the v=<batchId> commit
      // protocol is single-writer per dir (topic-per-producer, as in
      // the reference's transactional Kafka)
      val uvLedger = s"$stage/ledger_dwm_uv"
      val jumpLedger = s"$stage/ledger_dwm_jump"
      val vSt = s"$stage/state_visitor"; val wh = s"$stage/wh"

      // events table as the ODS visit log: mid = user_id, micros ts.
      // Feeds are TIME-CONTIGUOUS quarters — the 0-delay watermark
      // advances to each feed's max ts, so a later feed must not carry
      // earlier events (T4 would drop them as late). No global ts ties
      // at sf0.001, so quarter boundaries are unambiguous.
      val ev = graft.Tables.load(s, sf, "events")
        .select(lit("visit_log").as("tbl"),
          col("user_id").cast("string").as("mid"),
          col("event_id").cast("string").as("pageId"),
          lit("").as("lastPageId"), lit("0").as("isNew"),
          timestamp_micros(expr("ts div 1000")).as("ts"))
      val lines = ev.orderBy(col("ts")).toJSON.collect()
      assert(lines.length > 500)
      val feeds = lines.grouped((lines.length + 3) / 4).toSeq
      assert(feeds.length === 4)
      // sentinel: one fake visit 2000 s (> the 600 s jump gap) past the
      // last real event; it pushes the watermark so every pending
      // timer fires, and the hops filter it before any state/sink
      val maxTsMicros = graft.Tables.load(s, sf, "events")
        .agg(max(expr("ts div 1000"))).as[Long].head()
      val sentinel = Seq(("visit_log", "__wm__", "s", "", "0"))
        .toDF("tbl", "mid", "pageId", "lastPageId", "isNew")
        .withColumn("ts", timestamp_micros(lit(maxTsMicros + 2000000000L)))
        .toJSON.head()

      val input = MemoryStream[String]
      val q1 = LayeredPipeline.odsToDwd(input.toDF().toDF("value"),
        dwdLedger, s"$stage/ck1")
      input.addData(feeds(0): _*)
      q1.processAllAvailable() // dwd_visit_log v=0 committed
      var qUv = LayeredPipeline.dwdVisitsToUv(s, dwdLedger, uvLedger,
        s"$stage/ckuv")
      val qJp = LayeredPipeline.dwdVisitsToJump(s, dwdLedger, jumpLedger,
        s"$stage/ckjp")
      qUv.processAllAvailable(); qJp.processAllAvailable()
      // both dwm topics have committed segments → their consumer can start
      val fsys = new org.apache.hadoop.fs.Path(uvLedger)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      assert(fsys.globStatus(new org.apache.hadoop.fs.Path(
        s"$uvLedger/v=*/topic=dwm_unique_visit")).nonEmpty)
      assert(fsys.globStatus(new org.apache.hadoop.fs.Path(
        s"$jumpLedger/v=*/topic=dwm_user_jump")).nonEmpty)
      val qV = LayeredPipeline.dwmVisitsToVisitorState(s, uvLedger,
        jumpLedger, vSt, s"$stage/ckv")
      qV.processAllAvailable()

      input.addData(feeds(1): _*)
      q1.processAllAvailable(); qUv.processAllAvailable()
      qJp.processAllAvailable(); qV.processAllAvailable()

      // kill the state-heavy UV consumer; the jump branch keeps flowing
      qUv.stop()
      input.addData(feeds(2): _*)
      q1.processAllAvailable(); qJp.processAllAvailable()
      qV.processAllAvailable()
      // restart from its checkpoint: RocksDB state restores, backlog drains
      qUv = LayeredPipeline.dwdVisitsToUv(s, dwdLedger, uvLedger,
        s"$stage/ckuv")
      qUv.processAllAvailable()

      input.addData(feeds(3) :+ sentinel: _*)
      q1.processAllAvailable(); qUv.processAllAvailable()
      qJp.processAllAvailable(); qV.processAllAvailable()
      q1.stop(); qUv.stop(); qJp.stop(); qV.stop()

      // replayed (already-committed) produce is a no-op at both ledgers
      val vVer = VersionedState.latestVersion(s, vSt)
      assert(!Kafka.txnProduce(
        Seq(("dwd_visit_log", """{"tbl":"visit_log"}"""))
          .toDF("topic", "value"), dwdLedger, 0L))
      assert(!Kafka.txnProduce(
        Seq(("dwm_unique_visit", """{"mid":"0"}"""))
          .toDF("topic", "value"), uvLedger, 0L))
      val qVr = LayeredPipeline.dwmVisitsToVisitorState(s, uvLedger,
        jumpLedger, vSt, s"$stage/ckv")
      qVr.processAllAvailable(); qVr.stop()
      assert(VersionedState.latestVersion(s, vSt) === vVer)

      // ---- batch truths: q06 per-day UV; q07 (600 s gap) per-day jumps
      val chain = VersionedState.read(s, vSt, fail("visitor state must exist"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val batchUv = graft.operators.RefQueries.uvPerDay(s, sf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(chain.view.mapValues(_._1).toMap === batchUv)
      val batchJump = graft.operators.RefQueries.jumpDetect(s, sf)
        .select(date_format(timestamp_seconds(col("ts_sec")), "yyyy-MM-dd")
          .as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("ct")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(chain.collect { case (d, (_, uj)) if uj > 0 => d -> uj }
        === batchJump)

      // ---- the published DWS table serves the same panel
      LayeredPipeline.publishVisitorDws(s, vSt, wh)
      val serve = Serve(s, wh)
      assert(serve.registered.contains("dws_visitor_stats"))
      val served = serve.sql(
        "SELECT date_format(stt, 'yyyy-MM-dd') AS day, uv_ct, uj_ct " +
        "FROM dws_visitor_stats").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(served === chain)
    }
  }
}
