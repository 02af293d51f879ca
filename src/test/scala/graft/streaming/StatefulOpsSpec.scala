package graft.streaming

import graft.SparkSpec
import graft.streaming.Model._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The keyed-state operators over MemoryStream fixtures. Each test ends
  * with a far-future sentinel event that advances the watermark past every
  * fixture timestamp, so all drain and jump timers fire. The "(batch mode)"
  * tests run the whole fixture, sentinel included, as one bounded
  * `Trigger.AvailableNow` query: the timers then fire only in the trailing
  * no-data batch that closes the run. */
class StatefulOpsSpec extends SparkSpec {

  /** Runs `out` into the memory table `name` as one bounded
    * `Trigger.AvailableNow` query and waits for it to finish. */
  private def runBounded[T](out: Dataset[T], name: String): Unit = {
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000L), s"bounded run $name did not finish")
    finally q.stop()
  }

  test("T1 visitorRepair: is_new rewritten on later-day repeat (batch mode)") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L // 2023-11-14
      val day2 = day1 + 86400000L
      val input = MemoryStream[LogEvent]
      input.addData(
        LogEvent("m1", "home", null, "1", ts(day1)),
        LogEvent("m1", "home", null, "1", ts(day2)),      // lying "new": repair
        LogEvent("m2", "home", null, "0", ts(day2)),
        LogEvent("zz", "home", "x", "0", ts(day2 + 86400000L)))
      runBounded(StatefulOps.visitorRepair(
        input.toDS().withWatermark("ts", "1 second")), "vr_bounded")
      val out = s.table("vr_bounded").as[RepairedEvent].collect()
        .filter(_.mid != "zz")
      val m1d2 = out.find(e => e.mid == "m1" && e.ts.getTime == day2).get
      assert(m1d2.isNew === "0" && m1d2.repaired)
      assert(out.find(e => e.mid == "m1" && e.ts.getTime == day1).get.isNew === "1")
      assert(out.find(_.mid == "m2").get.isNew === "0")
    }
  }

  test("F2 uniqueVisit: first entry per mid per day passes (batch mode)") {
    withoutTimerWarnings(withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      val input = MemoryStream[LogEvent]
      input.addData(
        LogEvent("m1", "home", null, "1", ts(day1)),        // pass (first of day1)
        LogEvent("m1", "list", "", "1", ts(day1 + 1000)),   // entry but same day: drop
        LogEvent("m1", "detail", "home", "1", ts(day1 + 2000)), // mid-session: drop
        LogEvent("m1", "home", null, "1", ts(day2)),        // pass (first of day2)
        LogEvent("m2", "home", "", "0", ts(day1)),          // pass
        LogEvent("zz", "home", "x", "0", ts(day2 + 86400000L)))
      runBounded(StatefulOps.uniqueVisit(
        input.toDS().withWatermark("ts", "1 second")), "uv_bounded")
      val out = s.table("uv_bounded").as[LogEvent].collect().filter(_.mid != "zz")
      assert(out.length === 3)
      assert(out.count(_.mid == "m1") === 2)
    })
  }

  test("T2 userJump: canonical fixture (batch mode)") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val input = MemoryStream[LogEvent]
      input.addData(
        LogEvent("101", "home", null, "1", ts(10000L)),
        LogEvent("102", "home", null, "1", ts(12000L)),
        LogEvent("102", "good_list", "home", "1", ts(150000L)),
        LogEvent("102", "good_list", "detail", "1", ts(300000L)),
        LogEvent("999", "home", "x", "0", ts(400000L)))
      runBounded(StatefulOps.userJump(
        input.toDS().withWatermark("ts", "1 second"), gapMs = 10000L), "jumps_bounded")
      val got = s.table("jumps_bounded").as[Jump].collect()
        .map(j => (j.mid, j.ts.getTime)).toSet
      assert(got === Set(("101", 10000L), ("102", 12000L)))
    }
  }

  test("T1 visitorRepair: later-day repeat repaired") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      val input = MemoryStream[LogEvent]
      input.addData(
        LogEvent("m1", "home", null, "1", ts(day1)),
        LogEvent("m1", "home", null, "1", ts(day2)), // lying "new": repair
        LogEvent("m2", "home", null, "0", ts(day2)))
      val out = StatefulOps.visitorRepair(
        input.toDS().withWatermark("ts", "1 second"))
      val q = out.writeStream.format("memory").queryName("vr_later")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        input.addData(LogEvent("zz", "home", "x", "0", ts(day2 + 86400000L)))
        q.processAllAvailable()
        val got = s.table("vr_later").as[RepairedEvent].collect()
          .filter(_.mid != "zz")
        val m1d2 = got.find(e => e.mid == "m1" && e.ts.getTime == day2).get
        assert(m1d2.isNew === "0" && m1d2.repaired)
        assert(got.find(e => e.mid == "m1" && e.ts.getTime == day1).get.isNew === "1")
        assert(got.find(_.mid == "m2").get.isNew === "0")
      } finally q.stop()
    }
  }

  test("T1 visitorRepair: out-of-order arrival within a batch drains in event-time order") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      val input = MemoryStream[LogEvent]
      // day2 event arrives FIRST: a naive arrival-order fold would let it
      // claim first-visit and wrongly repair the day1 event; the timer
      // queue must drain day1 before day2
      input.addData(
        LogEvent("m1", "home", null, "1", ts(day2)),
        LogEvent("m1", "home", null, "1", ts(day1)))
      val out = StatefulOps.visitorRepair(
        input.toDS().withWatermark("ts", "1 second"))
      val q = out.writeStream.format("memory").queryName("vr_ooo")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        input.addData(LogEvent("zz", "home", "x", "0", ts(day2 + 86400000L)))
        q.processAllAvailable()
        val got = s.table("vr_ooo").as[RepairedEvent].collect()
          .filter(_.mid == "m1").sortBy(_.ts.getTime)
        assert(got.map(_.isNew).toSeq === Seq("1", "0"))
        assert(got.last.repaired)
      } finally q.stop()
    }
  }

  test("T1 visitorRepair: idle cleanup must not clear state while later events sit buffered") {
    withoutTimerWarnings(withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L
      val day = 86400000L
      val input = MemoryStream[LogEvent]
      val out = StatefulOps.visitorRepair(
        input.toDS().withWatermark("ts", "1 second"))
      val q = out.writeStream.format("memory").queryName("vr_ttl")
        .outputMode(OutputMode.Append).start()
      try {
        // day1 visit drains; the 30-day cleanup horizon lands at day31
        input.addData(LogEvent("m1", "home", null, "1", ts(day1)))
        input.addData(LogEvent("zz", "home", "x", "0", ts(day1 + 2 * day)))
        q.processAllAvailable()
        // a lying "new" visit on day40 is BUFFERED (watermark still low)
        input.addData(LogEvent("m1", "home", null, "1", ts(day1 + 40 * day)))
        q.processAllAvailable()
        // watermark jumps past BOTH the day31 cleanup and the day40 drain;
        // the cleanup fires first — it must see the buffered event and
        // keep firstDay, so day40 is repaired
        input.addData(LogEvent("zz", "home", "x", "0", ts(day1 + 80 * day)))
        q.processAllAvailable()
        val m1 = s.table("vr_ttl").as[RepairedEvent].collect()
          .filter(_.mid == "m1").sortBy(_.ts.getTime)
        assert(m1.length === 2)
        assert(m1.last.isNew === "0" && m1.last.repaired,
          "idle cleanup wiped first-visit state despite a buffered event")
      } finally q.stop()
    })
  }

  test("F2 uniqueVisit: first entry per mid per day passes") {
    withoutTimerWarnings(withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      val input = MemoryStream[LogEvent]
      input.addData(
        LogEvent("m1", "home", null, "1", ts(day1)),         // pass
        LogEvent("m1", "list", "", "1", ts(day1 + 1000)),    // same day: drop
        LogEvent("m1", "detail", "home", "1", ts(day1 + 2000)), // mid-session: drop
        LogEvent("m1", "home", null, "1", ts(day2)),         // pass
        LogEvent("m2", "home", "", "0", ts(day1)))           // pass
      val out = StatefulOps.uniqueVisit(
        input.toDS().withWatermark("ts", "1 second"))
      val q = out.writeStream.format("memory").queryName("uv_first")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        input.addData(LogEvent("zz", "home", "x", "0", ts(day2 + 86400000L)))
        q.processAllAvailable()
        val got = s.table("uv_first").as[LogEvent].collect().filter(_.mid != "zz")
        assert(got.length === 3)
        assert(got.count(_.mid == "m1") === 2)
      } finally q.stop()
    })
  }

  test("F2 uniqueVisit: ordered drain survives a large key group (hot-key shape)") {
    withoutTimerWarnings(withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      // one hot mid, 4000 session entries over two days, distinct
      // timestamps — a per-trigger sort would buffer all of them on the
      // heap; the ordered drain takes them one timestamp at a time
      val evs = (0 until 4000).map { i =>
        val base = if (i % 2 == 0) day1 else day2
        LogEvent("hot", "home", null, "1", ts(base + i * 7L))
      }
      val input = MemoryStream[LogEvent]
      input.addData(evs: _*)
      val out = StatefulOps.uniqueVisit(
        input.toDS().withWatermark("ts", "1 second"))
      val q = out.writeStream.format("memory").queryName("uv_hot")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        input.addData(LogEvent("zz", "home", "x", "0", ts(day2 + 86400000L)))
        q.processAllAvailable()
        val got = s.table("uv_hot").as[LogEvent].collect().filter(_.mid == "hot")
        // exactly the first entry of each of the two days
        assert(got.length === 2)
        assert(got.map(e => StatefulOps.dayOf(e.ts)).toSet.size === 2)
        assert(got.map(_.ts.getTime).toSet === Set(day1, day2 + 7L))
      } finally q.stop()
    })
  }

  test("F2 uniqueVisit chains into a windowed aggregation (DWM -> DWS)") {
    withoutTimerWarnings(withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import org.apache.spark.sql.functions._
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      val input = MemoryStream[LogEvent]
      input.addData(
        LogEvent("m1", "home", null, "1", ts(day1)),
        LogEvent("m1", "list", "", "1", ts(day1 + 1000)),  // same day: deduped
        LogEvent("m2", "home", "", "0", ts(day1 + 2000)),
        LogEvent("m1", "home", null, "1", ts(day2)))
      // the chained form declares its event-time column so the downstream
      // tumble re-derives a watermark — two stateful operators, one query
      val uv = StatefulOps.uniqueVisit(
        input.toDS().withWatermark("ts", "1 second"), chainTs = Some("ts"))
      val daily = uv.groupBy(window(col("ts"), "1 day")).agg(count(lit(1)).as("uv_ct"))
      val q = daily.writeStream.format("memory").queryName("uv_chain")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        input.addData(LogEvent("zz", "home", "x", "0", ts(day2 + 2 * 86400000L)))
        q.processAllAvailable()
        val rows = s.table("uv_chain").collect()
          .map(r => r.getStruct(0).getTimestamp(0).getTime -> r.getLong(1)).toMap
        val d1win = (day1 / 86400000L) * 86400000L
        val d2win = (day2 / 86400000L) * 86400000L
        assert(rows.get(d1win).contains(2L)) // m1 + m2 on day1 (dup dropped)
        assert(rows.get(d2win).contains(1L)) // m1 on day2
      } finally q.stop()
    })
  }

  test("T1 visitorRepair: state is evicted after 30 idle days") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L
      val day = 86400000L
      val input = MemoryStream[LogEvent]
      val out = StatefulOps.visitorRepair(
        input.toDS().withWatermark("ts", "1 second"))
      val q = out.writeStream.format("memory").queryName("vr_evict")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(LogEvent("m1", "home", null, "1", ts(day1)))
        q.processAllAvailable()
        // two watermark steps while m1 is idle: the first drains day1 and
        // sets the day31 cleanup horizon, the second passes it
        input.addData(LogEvent("zz", "home", "x", "0", ts(day1 + 35 * day)))
        q.processAllAvailable()
        input.addData(LogEvent("zz", "home", "x", "0", ts(day1 + 36 * day)))
        q.processAllAvailable()
        input.addData(LogEvent("m1", "home", null, "1", ts(day1 + 40 * day)))
        q.processAllAvailable()
        input.addData(LogEvent("zz", "home", "x", "0", ts(day1 + 80 * day)))
        q.processAllAvailable()
        val m1 = s.table("vr_evict").as[RepairedEvent].collect()
          .filter(_.mid == "m1").sortBy(_.ts.getTime)
        // first-visit state is gone: the day40 "new" visit stands
        assert(m1.map(_.isNew).toSeq === Seq("1", "1"))
        assert(!m1.last.repaired)
      } finally q.stop()
    }
  }

  test("T2 userJump: canonical 4-event CEP fixture (UserJumpApp.java:56-64)") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      // mid 101: entry never followed; mid 102: entry followed only at +138 s
      val input = MemoryStream[LogEvent]
      input.addData(
        LogEvent("101", "home", null, "1", ts(10000L)),
        LogEvent("102", "home", null, "1", ts(12000L)),
        LogEvent("102", "good_list", "home", "1", ts(150000L)),
        LogEvent("102", "good_list", "detail", "1", ts(300000L)))
      val jumps = StatefulOps.userJump(
        input.toDS().withWatermark("ts", "1 second"), gapMs = 10000L)
      val q = jumps.writeStream.format("memory").queryName("jumps")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        input.addData(LogEvent("999", "home", "x", "0", ts(400000L)))
        q.processAllAvailable()
        val got = s.table("jumps").as[Jump].collect()
          .map(j => (j.mid, j.ts.getTime)).toSet
        assert(got === Set(("101", 10000L), ("102", 12000L)))
      } finally q.stop()
    }
  }

  test("T2 userJump: entry followed within gap is not a jump") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val input = MemoryStream[LogEvent]
      input.addData(
        LogEvent("7", "home", null, "1", ts(1000L)),
        LogEvent("7", "detail", "home", "1", ts(5000L)))
      val jumps = StatefulOps.userJump(
        input.toDS().withWatermark("ts", "1 second"), gapMs = 10000L)
      val q = jumps.writeStream.format("memory").queryName("jumps_followed")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        input.addData(LogEvent("999", "home", "x", "0", ts(500000L)))
        q.processAllAvailable()
        assert(s.table("jumps_followed").count() === 0)
      } finally q.stop()
    }
  }
}
