package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.Kafka
import graft.streaming._

/** The reference's 11 Flink jobs as thin compositions over the tested
  * transformation library — the "switchable" surface: a user of
  * codejiwei/gmall-realtime-flink runs each `*App.main` against a broker;
  * here each app is `Kafka source -> pure transformations -> sink`, where
  * every transformation is the exact function covered by the specs
  * (SURVEY.md §7.1's two-mode architecture makes the Kafka wrapper the
  * ONLY untested line, and it is configuration, not logic).
  *
  * Compile-checked in this environment (no broker/connector jar); the
  * bodies are one-liners over graft.streaming.
  */
object Apps {

  final case class Conf(brokers: String, checkpointRoot: String, warehouseDir: String)

  /** BaseLogAPP (reference app/dwd/BaseLogAPP.java): ods_base_log ->
    * parse -> 3-way split -> dwd topics. */
  def baseLogApp(spark: SparkSession, c: Conf): StreamingQuery = {
    val raw = Kafka.stringSource(spark, c.brokers, "ods_base_log", "base_log_app")
    raw.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // ONE from_json pass; clean and dirty branches both derive from it
      val withRaw = LogPipeline.parseLogsKeepRaw(batch).persist()
      try {
        LogPipeline.dirtyFromRaw(withRaw).write.mode("append")
          .parquet(s"${c.warehouseDir}/dwd/dwd_dirty_log")
        LogPipeline.fanOutBatch(LogPipeline.cleanFromRaw(withRaw), s"${c.warehouseDir}/dwd")
      } finally { withRaw.unpersist(); () }
    }.option("checkpointLocation", s"${c.checkpointRoot}/base_log").start()
  }

  /** BaseDBApp (app/dwd/BaseDBApp.java): ods_base_db_m CDC -> clean ->
    * config-routed facts (per-row topic) + dim upserts. */
  def baseDBApp(spark: SparkSession, c: Conf, configPath: String): StreamingQuery = {
    val cdc = Kafka.stringSource(spark, c.brokers, "ods_base_db_m", "base_db_app")
      .select(from_json(col("value"), LogPipeline.cdcSchema).as("c")).select(col("c.*"))
    LogPipeline.cdcClean(cdc).writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // S5: config re-read per micro-batch = the reference's 5 s poll
      val config = spark.read.option("header", "true").csv(configPath)
      val routed = DynamicRouting.routed(batch, config).persist()
      try {
        DynamicRouting.factRecords(routed).write.mode("append")
          .parquet(s"${c.warehouseDir}/dwd_facts") // -> Kafka.dynamicTopicSink on a cluster
        DynamicRouting.upsertDims(routed, s"${c.warehouseDir}/dims")
      } finally routed.unpersist()
    }.option("checkpointLocation", s"${c.checkpointRoot}/base_db").start()
  }

  private def typedPageLog(spark: SparkSession, c: Conf, group: String) = {
    import spark.implicits._
    LogPipeline.pageLogs(LogPipeline.parseLogs(
        Kafka.stringSource(spark, c.brokers, "dwd_page_log", group)))
      // operator-boundary guard: the stateful ops sort/compare event time
      // and would NPE on a null ts (belt to LogPipeline's dirty-branch
      // suspenders — dwd topics written by other producers may differ)
      .filter(col("event_ts").isNotNull)
      .select(col("common.mid").as("mid"), col("page.page_id").as("pageId"),
        col("page.last_page_id").as("lastPageId"), col("common.is_new").as("isNew"),
        col("event_ts").as("ts"),
        col("common.vc").as("vc"), col("common.ch").as("ch"),
        col("common.ar").as("ar"))
      .as[Model.LogEvent]
      .withWatermark("ts", "1 second")
  }

  /** UniqueVisitApp (app/dwm/UniqueVisitApp.java): page log -> per-day UV
    * dedup -> dwm_unique_visit. The session must use the RocksDB
    * state-store provider, as the LayeredPipeline hops do. */
  def uniqueVisitApp(spark: SparkSession, c: Conf): StreamingQuery =
    Kafka.stringSink(
      StatefulOps.uniqueVisit(typedPageLog(spark, c, "unique_visit_app")).toDF(),
      c.brokers, "dwm_unique_visit", s"${c.checkpointRoot}/uv").start()

  /** UserJumpApp (app/dwm/UserJumpApp.java): page log -> CEP jump-out
    * (10 s) -> dwm_user_jump_detail. The session must use the RocksDB
    * state-store provider, as the LayeredPipeline hops do. */
  def userJumpApp(spark: SparkSession, c: Conf): StreamingQuery =
    Kafka.stringSink(
      StatefulOps.userJump(typedPageLog(spark, c, "user_jump_app"), gapMs = 10000L).toDF(),
      c.brokers, "dwm_user_jump_detail", s"${c.checkpointRoot}/jump").start()

  /** OrderWideApp (app/dwm/OrderWideApp.java): interval join ±5 ms +
    * broadcast dim enrichment inside foreachBatch. */
  def orderWideApp(spark: SparkSession, c: Conf, dimDir: String): StreamingQuery = {
    import spark.implicits._
    val orders = Kafka.stringSource(spark, c.brokers, "dwd_order_info", "order_wide_app")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "orderId BIGINT, userId BIGINT, totalAmount DOUBLE, createTime TIMESTAMP, provinceId BIGINT")).as("o"))
      .select(col("o.*")).as[Model.OrderInfo]
    val details = Kafka.stringSource(spark, c.brokers, "dwd_order_detail", "order_wide_app")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "detailId BIGINT, orderId BIGINT, skuId BIGINT, splitAmount DOUBLE, createTime TIMESTAMP")).as("d"))
      .select(col("d.*")).as[Model.OrderDetail]
    val wide = IntervalJoins.orderWide(orders, details, bandMs = 5)
    wide.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // J3/J4: the full 6-dim broadcast enrichment + derived age/gender
      // (OrderWideApp.java:155-281) replaces chained async lookups
      val enriched = OrderWideEnrich.enrich(batch, spark, dimDir).persist()
      try {
        enriched.write.mode("append").parquet(s"${c.warehouseDir}/dwm_order_wide")
        // downstream SQL app consumes the same rows as flat JSON
        Kafka.toJsonValue(enriched.select(batch.columns.map(batch(_)).toIndexedSeq: _*))
          .write.mode("append").parquet(s"${c.warehouseDir}/dwm_order_wide_json")
      } finally { enriched.unpersist(); () }
    }.option("checkpointLocation", s"${c.checkpointRoot}/order_wide").start()
  }

  /** ProductStatsApp (app/dws/ProductStatsApp.java:70-260): the full
    * SEVEN-stream union — page log (clicks + displays), favor, cart,
    * order-wide, payment-wide, refund, comment — each seeded onto the
    * unified 13-metric schema, 10 s tumble, DWS store. */
  def productStatsApp(spark: SparkSession, c: Conf): StreamingQuery = {
    val g = "product_stats_app"
    val parsed = LogPipeline.parseLogs(
      Kafka.stringSource(spark, c.brokers, "dwd_page_log", g))
    // dwd CDC side streams (sku_id/create_time[/order_id/appraise/amount]
    // flat JSON, the shapes BaseDBApp routes to these topics)
    def dwd(topic: String, ddl: String) =
      Kafka.stringSource(spark, c.brokers, topic, g)
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(ddl)).as("r"))
        .select(col("r.*"))
    val favors = dwd("dwd_favor_info", "sku_id STRING, create_time TIMESTAMP")
    val carts = dwd("dwd_cart_info", "sku_id STRING, create_time TIMESTAMP")
    val refunds = dwd("dwd_order_refund_info",
      "sku_id STRING, order_id STRING, refund_amount DOUBLE, create_time TIMESTAMP")
    val comments = dwd("dwd_comment_info",
      "sku_id STRING, appraise STRING, create_time TIMESTAMP")
    // dwm wide streams: the flat JSON mirrors orderWideApp/paymentWideApp emit
    val orderWide = dwd("dwm_order_wide",
      "orderId BIGINT, skuId BIGINT, splitAmount DOUBLE, d_time TIMESTAMP")
    val paymentWide = dwd("dwm_payment_wide",
      "orderId BIGINT, skuId BIGINT, splitAmount DOUBLE, p_time TIMESTAMP")
    val stats = MetricUnion.productStats(Seq(
      MetricUnion.fromClicks(LogPipeline.pageLogs(parsed)),
      MetricUnion.fromDisplays(LogPipeline.displayLogs(parsed)),
      MetricUnion.fromFavors(favors),
      MetricUnion.fromCarts(carts),
      MetricUnion.fromOrders(orderWide),
      MetricUnion.fromPayments(paymentWide),
      MetricUnion.fromRefunds(refunds),
      MetricUnion.fromComments(comments)), streaming = true)
    stats.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // dim enrichment on the AGGREGATED rows (one lookup per sku-window,
      // not per event — ProductStatsApp.java:316-397 does the same)
      val enriched = OrderWideEnrich
        .productStatsEnrich(batch, spark, s"${c.warehouseDir}/dims").persist()
      try {
        enriched.write.mode("append").parquet(s"${c.warehouseDir}/dws_product_stats")
        // flat JSON mirror: the shape keywordStats4ProductApp consumes
        Kafka.toJsonValue(enriched)
          .write.mode("append").parquet(s"${c.warehouseDir}/dws_product_stats_json")
      } finally { enriched.unpersist(); () }
    }.option("checkpointLocation", s"${c.checkpointRoot}/product_stats").start()
  }

  /** PaymentWideApp (app/dwm/PaymentWideApp.java:114-131): payment ⋈
    * ORDER-WIDE within 30 min after the detail time — the joined stream
    * carries skuId/splitAmount so ProductStats can seed payment metrics
    * per sku (reference parity; the payment ⋈ order variant remains in
    * IntervalJoins for the reduced shape). */
  def paymentWideApp(spark: SparkSession, c: Conf): StreamingQuery = {
    import spark.implicits._
    val payments = Kafka.stringSource(spark, c.brokers, "dwd_payment_info", "payment_wide_app")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "paymentId BIGINT, orderId BIGINT, amount DOUBLE, callbackTime TIMESTAMP")).as("p"))
      .select(col("p.*")).as[Model.PaymentInfo]
    val orderWide = Kafka.stringSource(spark, c.brokers, "dwm_order_wide", "payment_wide_app")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "orderId BIGINT, userId BIGINT, provinceId BIGINT, totalAmount DOUBLE, " +
          "o_time TIMESTAMP, detailId BIGINT, skuId BIGINT, splitAmount DOUBLE, " +
          "d_time TIMESTAMP")).as("o"))
      .select(col("o.*"))
      .withWatermark("d_time", "3 seconds")
    val wide = IntervalJoins.paymentWideFull(payments, orderWide)
    Kafka.stringSink(wide, c.brokers, "dwm_payment_wide",
      s"${c.checkpointRoot}/payment_wide").start()
  }

  /** VisitorStatsApp (app/dws/VisitorStatsApp.java): the 4-way union of
    * pv / uv / session-entry / jump seeds, window-reduced. The DWM inputs
    * are the FLAT JSON shapes that uniqueVisitApp/userJumpApp actually
    * produce via Kafka.stringSink (LogEvent / Jump fields), not the raw
    * log schema. */
  def visitorStatsApp(spark: SparkSession, c: Conf): StreamingQuery = {
    val pages = LogPipeline.pageLogs(LogPipeline.parseLogs(
      Kafka.stringSource(spark, c.brokers, "dwd_page_log", "visitor_stats_app")))
    val uv = Kafka.stringSource(spark, c.brokers, "dwm_unique_visit", "visitor_stats_app")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "mid STRING, pageId STRING, lastPageId STRING, isNew STRING, ts TIMESTAMP, " +
          "vc STRING, ch STRING, ar STRING")).as("u"))
      .select(col("u.mid"), col("u.isNew"), col("u.ts"),
        col("u.vc"), col("u.ch"), col("u.ar"))
    val jumps = Kafka.stringSource(spark, c.brokers, "dwm_user_jump_detail", "visitor_stats_app")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "mid STRING, pageId STRING, isNew STRING, ts TIMESTAMP, " +
          "vc STRING, ch STRING, ar STRING")).as("j"))
      .select(col("j.mid"), col("j.isNew"), col("j.ts"),
        col("j.vc"), col("j.ch"), col("j.ar"))
    val stats = WindowedStats.visitorStatsUnion(pages, uv, jumps, streaming = true)
    stats.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.sinks.Warehouse.writeDws(batch, s"${c.warehouseDir}/dws_visitor_stats")
    }.option("checkpointLocation", s"${c.checkpointRoot}/visitor_stats").start()
  }

  /** ProvinceStatsSqlApp (app/dws/ProvinceStatsSqlApp.java): SQL over a
    * streaming view — tumble + exact distinct orders per province. */
  def provinceStatsApp(spark: SparkSession, c: Conf): StreamingQuery = {
    // input: the flat order-wide JSON emitted by orderWideApp
    // (orderId, userId, provinceId, totalAmount, o_time, detailId, skuId,
    //  splitAmount, d_time)
    Kafka.stringSource(spark, c.brokers, "dwm_order_wide", "province_stats_app")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "orderId BIGINT, provinceId BIGINT, splitAmount DOUBLE, d_time TIMESTAMP")).as("o"))
      .select(col("o.*"))
      .withWatermark("d_time", "3 seconds")
      .createOrReplaceTempView("order_wide_stream")
    val stats = spark.sql(
      """SELECT window(d_time, '10 seconds').start AS stt, provinceId,
        |  size(collect_set(orderId)) AS order_count,
        |  CAST(sum(CAST(splitAmount AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        |FROM order_wide_stream
        |GROUP BY window(d_time, '10 seconds'), provinceId""".stripMargin)
    stats.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.write.mode("append").parquet(s"${c.warehouseDir}/dws_province_stats")
    }.option("checkpointLocation", s"${c.checkpointRoot}/province_stats").start()
  }

  /** KeywordStatsApp (app/dws/KeywordStatsApp.java): tokenize search
    * keywords (D1 UDTF -> explode), tumble count. */
  def keywordStatsApp(spark: SparkSession, c: Conf): StreamingQuery = {
    val pages = LogPipeline.parseLogs(
      Kafka.stringSource(spark, c.brokers, "dwd_page_log", "keyword_stats_app"))
      .filter(col("page.page_id") === "good_list" && col("page.item").isNotNull)
    val words = pages.select(col("event_ts"),
      explode(graft.functions.Text.cjkTokens(col("page.item"))).as("keyword"))
    // NOTE: tumble(streaming = true) applies the watermark itself; stacking
    // a second withWatermark on the same column stops emission entirely
    val stats = WindowedStats.tumble(
      words, "event_ts", Seq("keyword"),
      Seq(count(lit(1)).as("ct"), lit("SEARCH").as("source")),
      watermarkDelay = "2 seconds", streaming = true)
    stats.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.write.mode("append").parquet(s"${c.warehouseDir}/dws_keyword_stats")
    }.option("checkpointLocation", s"${c.checkpointRoot}/keyword_stats").start()
  }

  /** KeywordStats4ProductApp (app/dws/KeywordStats4ProductApp.java): the
    * double lateral — tokenize product names × unpivot nonzero metrics.
    * Input is the snake_case product-stats shape that productStatsApp
    * produces (sku_id, click_ct, cart_ct, order_ct, stt); sku_name comes
    * from a per-batch dim_sku_info snapshot join (the reference enriches
    * through its SKU dim the same way, ProductStatsApp.java:316-397). */
  def keywordStats4ProductApp(spark: SparkSession, c: Conf, dimDir: String): StreamingQuery = {
    val stats = Kafka.stringSource(spark, c.brokers, "dws_product_stats", "keyword_product_app")
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
        "sku_id STRING, click_ct DOUBLE, cart_ct DOUBLE, order_ct DOUBLE, stt STRING")).as("p"))
      .select(col("p.*"))
    stats.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val sku = spark.read.parquet(s"$dimDir/dim_sku_info")
        .select(col("pk").as("sku_id"),
          element_at(col("data"), "sku_name").as("sku_name"))
      val out = batch.join(broadcast(sku), Seq("sku_id"), "left")
        .select(col("stt"),
          explode(graft.functions.Text.cjkTokens(coalesce(col("sku_name"), col("sku_id"))))
            .as("keyword"),
          col("click_ct"), col("cart_ct"), col("order_ct"))
        .select(col("stt"), col("keyword"),
          expr("stack(3, 'CLICK', click_ct, 'CART', cart_ct, 'ORDER', order_ct) AS (source, ct)"))
        .filter(col("ct") > 0)
      out.write.mode("append").parquet(s"${c.warehouseDir}/dws_keyword_stats_product")
    }.option("checkpointLocation", s"${c.checkpointRoot}/keyword_product").start()
  }

  /** ADS serving (gmall-publisher SugarController.getGMV): batch SQL over
    * the DWS store — the engine-side of the REST endpoint. */
  def gmv(spark: SparkSession, c: Conf, date: String): java.math.BigDecimal = {
    val df = spark.read.parquet(s"${c.warehouseDir}/dws_product_stats")
    val r = df.filter(date_format(col("stt"), "yyyyMMdd") === date)
      .agg(coalesce(sum(col("order_amount")), lit(0.0)).as("gmv")).head()
    java.math.BigDecimal.valueOf(r.getDouble(0))
  }

  /** The training-data pipeline composed end-to-end — the beyond-reference
    * "app": near-dup cluster the corpus on the LSH candidate edges (ONE
    * clustering, shared by the keep set), keep one doc per cluster, then
    * pack the surviving docs into token-budget bins and cut overlapping
    * chunk spans. Returns (kept, packed, chunks) frames; every stage is
    * the same operator a declared query verifies (q48/q49/q53/q54), so
    * this composition is oracle-grade by construction. The keep-set join
    * is a left-semi against a metadata-sized id list — the corpus itself
    * never shuffles on its way into packing/chunking. */
  def trainingCorpusApp(spark: SparkSession, dir: String,
                        budget: Int = 2048, chunkSize: Int = 32,
                        chunkOverlap: Int = 8): (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.{Corpus, Dedup}
    // shares q48's cached clustering; ordered = false — `kept` only ever
    // feeds the left-semi join below (guide §2.4: dead presentation sort)
    val kept = Dedup.dedupKeepSet(spark, dir, ordered = false)
    // pack/chunk the CLEANED corpus: the layout must be computed over the
    // surviving docs, or dropped dups leave token-sized holes in the bins
    // (filtering the pack output instead of its input would do exactly
    // that)
    val cleaned = graft.Tables.load(spark, dir, "documents")
      .join(kept, Seq("doc_id"), "left_semi")
    val packed = Corpus.packAssignDf(cleaned, budget)
    val chunks = Corpus.chunkSpansDf(cleaned, chunkSize, chunkOverlap)
    (kept, packed, chunks)
  }

  /** The FULL curation composition (q62): quality filter → near-dup
    * removal → train-split decontamination → sequence packing. Same
    * layout-over-survivors rule as [[trainingCorpusApp]] — the packing is
    * computed on the curated doc set, never filtered after the fact — but
    * the survivor set is the funnel's stage 4 (q59), not just dedup. */
  def curatedCorpusApp(spark: SparkSession, dir: String,
                       budget: Int = 2048): DataFrame = {
    import graft.operators.{Corpus, Curation}
    // token counts come from the shared feature artifact — the whole
    // curation composition tokenizes the corpus exactly ONCE (inside
    // docFeatures' checkpointed build), not once per stage. The flag
    // frame CARRIES n_tokens through from that artifact, so the former
    // semi-join back against docFeatures re-derived a column the
    // survivors already hold — one whole per-doc join gone (guide §2.4).
    val counts = Curation.curationFlags(spark, dir)
      .filter(col("pq") && col("kept") && col("clean"))
      .select(col("doc_id"), col("n_tokens"))
    Corpus.packAssignCounts(counts, budget)
  }
}
