package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's DWD log pipeline (BaseLogAPP.java:61-198), Spark-first:
  * one parsed frame, three filtered child frames instead of side outputs
  * (X1), display-array explode with page_id attached (X3), schema-on-read
  * JSON edge (P1).
  *
  * Works identically on a batch DataFrame of JSON strings and on the
  * `value` column of a ledger topic stream
  * (`graft.apps.LayeredPipeline.topicStream`) — the transformations are
  * pure DataFrame => DataFrame, and from_json + the filters are one
  * codegen'd scan pass.
  */
object LogPipeline {

  /** Log event schema, FIXTURES.md §A1 (fields as consumed by
    * BaseLogAPP.java:80-176). */
  val logSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("uid", StringType),
      StructField("vc", StringType), StructField("ch", StringType),
      StructField("ar", StringType), StructField("ba", StringType),
      StructField("md", StringType), StructField("os", StringType),
      StructField("is_new", StringType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType),
      StructField("last_page_id", StringType),
      StructField("item", StringType),
      StructField("item_type", StringType),
      StructField("during_time", LongType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType),
      StructField("open_ad_id", LongType),
      StructField("loading_time", LongType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("display_type", StringType),
      StructField("item", StringType),
      StructField("item_type", StringType),
      StructField("order", LongType))))),
    StructField("ts", LongType)))

  /** CDC envelope schema (Maxwell-shaped, FIXTURES.md §A3;
    * BaseDBApp.java:63-72): payload as a string map, schema-on-read. */
  val cdcSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("ts", LongType),
    StructField("data", MapType(StringType, StringType))))

  private def dirtyCond: org.apache.spark.sql.Column =
    col("_log").isNull ||
      // no ts = no event time: such a record cannot enter watermarked
      // processing (a null Timestamp would NPE inside the stateful
      // operators), so it quarantines with the unparseable rows
      col("_log.ts").isNull ||
      (col("_log.common").isNull && col("_log.start").isNull &&
       col("_log.page").isNull)

  /** P1: parse a JSON-string column into the log struct. */
  def parseLogs(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.select(from_json(col(jsonCol), logSchema).as("log"))
      .select(col("log.*"))
      .withColumn("event_ts", timestamp_millis(col("ts")))

  /** X1 — dirty-data branch (BaseLogAPP.java:64-70 catches unparseable
    * records into a dirty side output): rows where from_json produced no
    * recognizable log structure. Routed to a quarantine sink, never
    * dropped silently. */
  def dirtyLogs(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.withColumn("_log", from_json(col(jsonCol), logSchema))
      .filter(dirtyCond).select(col(jsonCol))

  /** X1 — start-log branch (BaseLogAPP.java:152-160). */
  def startLogs(parsed: DataFrame): DataFrame =
    parsed.filter(col("start").isNotNull && col("start.entry").isNotNull)

  /** X1 — page-log branch (everything that is not a start log). All-null
    * rows (from_json of unparseable input) are excluded — they belong to
    * the dirty branch, not the page branch. */
  def pageLogs(parsed: DataFrame): DataFrame =
    parsed.filter((col("start").isNull || col("start.entry").isNull) &&
      (col("common").isNotNull || col("page").isNotNull || col("ts").isNotNull))

  /** X3 — display explode with page_id attached (BaseLogAPP.java:166-179). */
  def displayLogs(parsed: DataFrame): DataFrame =
    pageLogs(parsed)
      .filter(col("displays").isNotNull && size(col("displays")) > 0)
      .select(col("common"), col("page.page_id").as("page_id"), col("ts"),
        explode(col("displays")).as("display"))
      .select(col("common"), col("page_id"), col("ts"), col("display.*"))

  /** F1 — CDC ETL filter (BaseDBApp.java:66-72). */
  def cdcClean(parsed: DataFrame): DataFrame =
    parsed.filter(col("table").isNotNull &&
      col("data").isNotNull && size(map_keys(col("data"))) >= 3)

  /** P5 — normalize maxwell bootstrap types
    * (TableProcessFunction.java:191-194). */
  def normalizeOp(c: Column): Column =
    when(c === "bootstrap-insert", "insert").otherwise(c)
}
