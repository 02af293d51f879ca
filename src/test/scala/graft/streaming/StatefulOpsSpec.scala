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
      // timestamps, in one trigger — a per-trigger sort would buffer all
      // of them on the heap; F2 keeps only the earliest entry of each day
      // (two pending entries, two timers)
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

  /** The F2 reference model: per (mid, day), the earliest session entry
    * the late-event filter accepts (ties: first arrival). `triggers` are
    * added one micro-batch each; an event is late when its ts is at or
    * below the watermark left by the earlier batches (max ts seen minus
    * `delayMs`). */
  private def uvModel(triggers: Seq[Seq[LogEvent]], delayMs: Long): Set[LogEvent] = {
    var wm = 0L
    val first = scala.collection.mutable.LinkedHashMap.empty[(String, String), LogEvent]
    triggers.foreach { batch =>
      batch.foreach { e =>
        val isEntry = e.lastPageId == null || e.lastPageId.isEmpty
        if (isEntry && e.ts.getTime > wm) {
          val k = (e.mid, StatefulOps.dayOf(e.ts))
          if (first.get(k).forall(_.ts.getTime > e.ts.getTime)) first(k) = e
        }
      }
      if (batch.nonEmpty) wm = math.max(wm, batch.map(_.ts.getTime).max - delayMs)
    }
    first.values.toSet
  }

  /** Runs `triggers` through F2, one processed micro-batch each, then a
    * far-future non-entry that fires every timer; returns the output. */
  private def uvRun(name: String, triggers: Seq[Seq[LogEvent]]): Set[LogEvent] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[LogEvent]
    val q = StatefulOps.uniqueVisit(input.toDS().withWatermark("ts", "1 second"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      val end = triggers.flatten.map(_.ts.getTime).max + 10 * 86400000L
      (triggers :+ Seq(LogEvent("zz", "home", "x", "0", ts(end)))).foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
      s.table(name).as[LogEvent].collect().filter(_.mid != "zz").toSet
    } finally q.stop()
  }

  test("F2 uniqueVisit equals the earliest accepted entry per (mid, day) across triggers") {
    withoutTimerWarnings(withRocksDb {
      val day = 86400000L
      val midnight = (1700000000000L / day + 1) * day // 2023-11-15T00:00Z
      def entry(mid: String, page: String, t: Long, last: String = null) =
        LogEvent(mid, page, last, "1", ts(midnight + t))
      // each trigger moves the watermark to (its max ts - 1 s); the
      // comments give the watermark the trigger is filtered against
      val crafted = Seq(
        Seq( // wm 0
          entry("a", "a2", 200), entry("a", "a1", -500),   // midnight straddle, day2 first
          entry("b", "b1", 5000), entry("b", "b2", 5000),  // same ms: first arrival wins
          entry("c", "c0", 100, last = "home"),            // non-entry: dropped
          entry("c", "c1", 3000),
          entry("d", "d1", 10000), entry("d", "d0", 9000), // out of order in one trigger
          entry("g", "g1", 100), entry("i", "i1", 1000),
          entry("w", "w", 10001, last = "x")),
        Seq( // wm 9001
          entry("b", "b3", 9700),                          // b's day already emitted
          entry("e", "e1", 9800), entry("f", "f1", 9900),
          entry("w", "w", 10500, last = "x")),
        Seq( // wm 9500
          entry("e", "e0", 9600),                          // earlier than pending e1
          entry("f", "f2", 9900),                          // same ms as f1, later trigger
          entry("d", "d2", 9400)),                         // late: dropped
        Seq( // wm 9500
          entry("g", "g2", day + 100),                     // at g's idle horizon
          entry("g", "g3", day + 150)),
        Seq( // wm day - 850
          entry("g", "g2b", day + 50),                     // replaces g2, horizon timer kept
          entry("w", "w", day + 3000, last = "x")),
        Seq( // wm day + 2000: the horizons of a and i have passed
          entry("i", "i2", day + 2500),                    // i returns after its state expired
          entry("a", "a3", day + 40000),
          entry("c", "c2", day - 100)))                    // late: dropped
      val craftedWant = uvModel(crafted, 1000L)
      assert(craftedWant.map(_.pageId) === Set("a1", "a2", "a3", "b1", "c1", "d0",
        "e0", "f1", "g1", "g2b", "i1", "i2"))
      assert(uvRun("uv_eq_crafted", crafted) === craftedWant)

      // seeded random triggers: mixed entries (null or "" last page) and
      // non-entries on a 1-minute grid (same-ms ties), out of order and
      // partly behind the watermark, and one 30-hour gap that lets idle
      // horizons fire. Timestamps are 7 ms past a minute and watermarks
      // 993 ms before one, so no event sits exactly on a watermark.
      val rnd = new scala.util.Random(7)
      var base = midnight - 3 * 3600000L
      val random = (0 until 10).map { k =>
        base += (if (k == 6) 30 else 3 + rnd.nextInt(3)) * 3600000L
        (0 until 40).map { i =>
          val t = base + (rnd.nextInt(270) - 30) * 60000L + 7
          val last = rnd.nextInt(4) match { case 0 => "home"; case 1 => ""; case _ => null }
          LogEvent(s"m${rnd.nextInt(5)}", s"p${k}_$i", last, "1", ts(t))
        }
      }
      val randomWant = uvModel(random, 1000L)
      assert(randomWant.size > 10)
      assert(uvRun("uv_eq_random", random) === randomWant)
    })
  }

  test("F2 uniqueVisit registers at most one timer per (mid, day) of a batch") {
    withoutTimerWarnings(withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      // N = 100 entries at distinct timestamps over M = 4 (mid, day) pairs,
      // plus 5 non-entries
      val evs =
        (0 until 30).map(i => LogEvent("a", "home", null, "1", ts(day1 + i * 11L))) ++
        (0 until 30).map(i => LogEvent("a", "home", "", "1", ts(day2 + i * 11L))) ++
        (0 until 25).map(i => LogEvent("b", "home", null, "1", ts(day1 + i * 13L))) ++
        (0 until 15).map(i => LogEvent("c", "home", null, "1", ts(day2 + i * 17L))) ++
        (0 until 5).map(i => LogEvent("c", "list", "home", "1", ts(day2 + i * 19L)))
      val input = MemoryStream[LogEvent]
      input.addData(evs: _*)
      val q = StatefulOps.uniqueVisit(input.toDS().withWatermark("ts", "1 second"))
        .writeStream.format("memory").queryName("uv_timers")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        // the data batch; the no-data batch after it fires the timers
        val data = q.recentProgress.find(_.numInputRows == evs.length).get
        val registered = data.stateOperators.head.customMetrics
          .get("numRegisteredTimers").longValue
        assert(registered > 0 && registered <= 4,
          s"$registered timers registered for 4 (mid, day) pairs")
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
