package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import Model._

/** J1/J2 — event-time interval joins, native in Structured Streaming
  * (SURVEY.md §2.6): keyed equi-join plus a time band, with watermarks
  * bounding the state the engine buffers on each side.
  *
  * Reference: order ⋈ detail within ±5 ms (OrderWideApp.java:139-152),
  * payment ⋈ order-wide within ±30 min (PaymentWideApp.java:114-131).
  *
  * Scale: the shuffle is on the equi key only; the band condition prunes
  * state via the watermark, so per-executor state is
  * O(key-rate × band width) — the same bound Flink's interval join keeps.
  */
object IntervalJoins {

  /** J1 — order ⋈ order-detail, band ±`bandMs` around the order time.
    * Works in both batch and streaming mode (watermarks are no-ops in
    * batch). */
  def orderWide(orders: Dataset[OrderInfo], details: Dataset[OrderDetail],
                bandMs: Long = 5, watermarkDelay: String = "3 seconds"): DataFrame = {
    val o = orders.toDF().withWatermark("createTime", watermarkDelay)
      .withColumnRenamed("createTime", "o_time")
    val d = details.toDF().withWatermark("createTime", watermarkDelay)
      .withColumnRenamed("createTime", "d_time")
      .withColumnRenamed("orderId", "d_orderId")
    o.join(d,
      col("orderId") === col("d_orderId") &&
      col("d_time") >= col("o_time") - expr(s"INTERVAL $bandMs MILLISECONDS") &&
      col("d_time") <= col("o_time") + expr(s"INTERVAL $bandMs MILLISECONDS"))
     .select(col("orderId"), col("userId"), col("provinceId"), col("totalAmount"),
       col("o_time"), col("detailId"), col("skuId"), col("splitAmount"), col("d_time"))
  }

  /** J2 at reference parity — payment ⋈ ORDER-WIDE within `bandSec` after
    * the detail time (PaymentWideApp.java:114-131 joins paymentInfo with
    * the dwm_order_wide stream, so the payment stream carries sku_id and
    * split amounts for ProductStats seeding). Input `orderWide` is the
    * [[orderWide]] output shape. */
  def paymentWideFull(payments: Dataset[PaymentInfo], orderWide: DataFrame,
                      bandSec: Long = 1800,
                      watermarkDelay: String = "3 seconds"): DataFrame = {
    val p = payments.toDF().withWatermark("callbackTime", watermarkDelay)
      .withColumnRenamed("orderId", "p_orderId")
    p.join(orderWide,
      col("p_orderId") === col("orderId") &&
      col("callbackTime") >= col("d_time") &&
      col("callbackTime") <= col("d_time") + expr(s"INTERVAL $bandSec SECONDS"))
     .select(col("paymentId"), col("orderId"), col("skuId"), col("splitAmount"),
       col("amount"), col("callbackTime").as("p_time"), col("d_time"))
  }
}
