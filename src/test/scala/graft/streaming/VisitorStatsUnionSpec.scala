package graft.streaming

import graft.SparkSpec
import graft.streaming.Model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The reference's full visitor-stats lineage: raw JSON -> page split ->
  * (pv/sv seeds) + UniqueVisit (uv) + UserJump (uj) -> 4-way union -> 10 s
  * tumble, keyed by the reference's full (vc, ch, ar, is_new) dimension
  * key (VisitorStatsApp.java:80-196). uv and uj come from the streaming
  * keyed-state operators; the union and tumble run in batch over their
  * collected output.
  */
class VisitorStatsUnionSpec extends SparkSpec {

  /** Runs UniqueVisit and UserJump over `typed` as two streaming queries
    * and returns their collected output. A trailing sentinel, a
    * mid-session event neither operator emits, advances the watermark past
    * every fixture event so all pending jumps fire. */
  private def uvAndJumps(typed: Dataset[LogEvent], gapMs: Long,
                         tag: String): (DataFrame, DataFrame) = withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val events = typed.collect()
    val input = MemoryStream[LogEvent]
    input.addData(events.toIndexedSeq: _*)
    val wm = input.toDS().withWatermark("ts", "1 second")
    val queries = Seq(
      StatefulOps.uniqueVisit(wm).writeStream.format("memory")
        .queryName(s"${tag}_uv").start(),
      StatefulOps.userJump(wm, gapMs).writeStream.format("memory")
        .queryName(s"${tag}_uj").start())
    try {
      queries.foreach(_.processAllAvailable())
      val end = events.map(_.ts.getTime).max + 86400000L
      input.addData(LogEvent("__wm__", "home", "x", "0", ts(end)))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    (s.table(s"${tag}_uv"), s.table(s"${tag}_uj"))
  }

  private def typedPages(pages: org.apache.spark.sql.DataFrame) = {
    val s = spark
    import s.implicits._
    pages.select(col("common.mid").as("mid"),
        col("page.page_id").as("pageId"), col("page.last_page_id").as("lastPageId"),
        col("common.is_new").as("isNew"), col("event_ts").as("ts"),
        col("common.vc").as("vc"), col("common.ch").as("ch"),
        col("common.ar").as("ar"))
      .as[LogEvent]
  }

  test("U2: four seeded streams union into windowed visitor stats") {
    val s = spark
    import s.implicits._
    // the canonical 4-event fixture, enriched with common fields
    def ev(mid: String, page: String, last: String, t: Long) = {
      val lastField = if (last == null) "" else s""""last_page_id":"$last","""
      s"""{"common":{"mid":"$mid","is_new":"1","vc":"v1","ch":"web","ar":"110"},"page":{${lastField}"page_id":"$page","during_time":7},"ts":$t}"""
    }
    val raw = Seq(
      ev("101", "home", null, 10000L), ev("102", "home", null, 12000L),
      ev("102", "good_list", "home", 150000L),
      ev("102", "good_list", "detail", 300000L)).toDF("value")
    val pages = LogPipeline.pageLogs(LogPipeline.parseLogs(raw))
    val typed = typedPages(pages)
    val (uv, jumps) = uvAndJumps(typed, gapMs = 10000L, "u2_canon")
    val stats = WindowedStats.visitorStatsUnion(pages, uv, jumps)
      .orderBy(col("stt"))
      .collect()

    // the full 4-part reference key is present and carried end-to-end
    assert(stats.forall(_.getAs[String]("vc") == "v1"))
    assert(stats.forall(_.getAs[String]("ch") == "web"))
    assert(stats.forall(_.getAs[String]("ar") == "110"))

    val w1 = stats.find(_.getAs[String]("stt") == "1970-01-01 00:00:10").get
    assert(w1.getAs[Long]("pv_ct") === 2L) // both entries are page views
    assert(w1.getAs[Long]("uv_ct") === 2L) // two distinct mids' first visits
    assert(w1.getAs[Long]("sv_ct") === 2L) // both are session entries
    assert(w1.getAs[Long]("uj_ct") === 2L) // both jumped (canonical fixture)
    assert(w1.getAs[Long]("dur_sum") === 14L)
    val w2 = stats.find(_.getAs[String]("stt") == "1970-01-01 00:02:30").get
    assert(w2.getAs[Long]("pv_ct") === 1L && w2.getAs[Long]("uj_ct") === 0L)
  }

  test("U2: stats split by channel/version/area, not just is_new") {
    val s = spark
    import s.implicits._
    def ev(mid: String, vc: String, ch: String, ar: String, t: Long) =
      s"""{"common":{"mid":"$mid","is_new":"1","vc":"$vc","ch":"$ch","ar":"$ar"},"page":{"page_id":"home","during_time":3},"ts":$t}"""
    val raw = Seq(
      ev("m1", "v1", "web", "110", 1000L), ev("m2", "v1", "web", "110", 2000L),
      ev("m3", "v1", "ios", "110", 3000L), ev("m4", "v2", "web", "310", 4000L))
      .toDF("value")
    val pages = LogPipeline.pageLogs(LogPipeline.parseLogs(raw))
    val typed = typedPages(pages)
    val (uv, jumps) = uvAndJumps(typed, gapMs = 10000L, "u2_split")
    val stats = WindowedStats.visitorStatsUnion(pages, uv, jumps).collect()

    assert(stats.length === 3) // (v1,web,110), (v1,ios,110), (v2,web,310)
    val key = stats.map(r => (r.getAs[String]("vc"), r.getAs[String]("ch"),
      r.getAs[String]("ar")) -> r.getAs[Long]("pv_ct")).toMap
    assert(key(("v1", "web", "110")) === 2L)
    assert(key(("v1", "ios", "110")) === 1L)
    assert(key(("v2", "web", "310")) === 1L)
  }
}
