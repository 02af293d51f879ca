package graft.streaming

import graft.SparkSpec
import graft.streaming.Model._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class IntervalJoinSpec extends SparkSpec {

  test("J1 orderWide: stream-stream interval join honors the time band") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val orders = MemoryStream[OrderInfo]
    val details = MemoryStream[OrderDetail]
    val joined = IntervalJoins.orderWide(orders.toDS(), details.toDS(), bandMs = 5)
    // enqueue before start so both sides land in the first micro-batch
    // (adding after start races the trigger: one side can arrive in a later
    // batch and be dropped as late once the other advanced the watermark)
    orders.addData(OrderInfo(1L, 100L, 50.0, ts(10000L)))
    details.addData(
      OrderDetail(11L, 1L, 7L, 25.0, ts(10003L)),  // within ±5 ms
      OrderDetail(12L, 1L, 8L, 25.0, ts(20000L)),  // outside band
      OrderDetail(13L, 2L, 9L, 10.0, ts(10001L)))  // no matching order
    val q = joined.writeStream.format("memory").queryName("ow")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = s.table("ow").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Long]("detailId") === 11L)
    } finally q.stop()
  }

  test("J2 paymentWide: payment joins orders within 30 min after") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val payments = MemoryStream[PaymentInfo]
    val orders = MemoryStream[OrderInfo]
    val details = MemoryStream[OrderDetail]
    // J2 joins the order-wide stream (PaymentWideApp), itself the J1 join
    val orderWide = IntervalJoins.orderWide(orders.toDS(), details.toDS())
    val joined = IntervalJoins.paymentWideFull(payments.toDS(), orderWide)
    // base offset: an event at exactly epoch 0 sits at the initial watermark
    // and is filtered as late — use nonzero event times
    val t0 = 1000000L
    orders.addData(OrderInfo(1L, 100L, 50.0, ts(t0)))
    details.addData(OrderDetail(11L, 1L, 7L, 50.0, ts(t0)))
    payments.addData(
      PaymentInfo(21L, 1L, 50.0, ts(t0 + 1200L * 1000)),      // within 30 min
      PaymentInfo(22L, 1L, 50.0, ts(t0 + 3600L * 1000 * 2)))  // too late
    val q = joined.writeStream.format("memory").queryName("pw")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = s.table("pw").collect()
      assert(rows.map(_.getAs[Long]("paymentId")).toSet === Set(21L))
    } finally q.stop()
  }

  test("A2 visitorStats windowed agg in streaming append mode") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[String]
    val parsed = LogPipeline.parseLogs(input.toDF())
    val stats = WindowedStats.visitorStats(parsed, streaming = true)
    val q = stats.writeStream.format("memory").queryName("vs")
      .outputMode(OutputMode.Append).start()
    try {
      def ev(mid: String, tsMs: Long) =
        s"""{"common":{"mid":"$mid","vc":"v1","ch":"web","ar":"110000","is_new":"1"},
           |"page":{"page_id":"home","during_time":1000},"ts":$tsMs}"""
          .stripMargin.replace("\n", "")
      input.addData(ev("m1", 1000), ev("m2", 2000), ev("m1", 4000))
      q.processAllAvailable()
      input.addData(ev("m9", 100000)) // advance watermark past window [0,10s)
      q.processAllAvailable()
      val rows = s.table("vs").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Long]("pv_ct") === 3L)
      assert(rows.head.getAs[Int]("uv_ct") === 2)
      assert(rows.head.getAs[String]("stt") === "1970-01-01 00:00:00")
    } finally q.stop()
  }
}
