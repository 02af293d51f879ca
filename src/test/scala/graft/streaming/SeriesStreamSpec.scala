package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SeriesStreamSpec extends SparkSpec {

  private def stateSet(df: DataFrame) = df.collect().map(r =>
    (r.getAs[Long]("user_id"), r.getAs[Long]("island"),
      r.getAs[Long]("start_us"), r.getAs[Long]("end_us"),
      r.getAs[Long]("n_events"))).toSet

  /** Raw intervals exactly as q97 derives them from the events table. */
  private def rawIntervals: DataFrame =
    graft.Tables.load(spark, sf, "events")
      .select(col("user_id"), expr("ts div 1000").as("st"), col("event_id"))
      .withColumn("en",
        col("st") + (col("event_id") % 300 + 30) * lit(1000000L))

  test("streamed island state equals batch q97 over the real stream") {
    val iv = rawIntervals.withColumn("bucket", col("event_id") % 4)
    // 4 uneven, TIME-UNSORTED splits (bucketed by id, not ts)
    var st = SeriesStream.emptyState(spark)
    Seq(0L, 1L, 2L, 3L).foreach { b =>
      st = SeriesStream.mergeBatch(st,
        iv.filter(col("bucket") === b)).localCheckpoint(true)
    }
    val batch = graft.operators.Series.intervalMerge(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(stateSet(SeriesStream.report(st)) === batch)
  }

  test("replay order is immaterial (closure property)") {
    val iv = rawIntervals.withColumn("bucket", col("event_id") % 3)
    def run(order: Seq[Long]) = {
      var st = SeriesStream.emptyState(spark)
      order.foreach { b =>
        st = SeriesStream.mergeBatch(st,
          iv.filter(col("bucket") === b)).localCheckpoint(true)
      }
      stateSet(st)
    }
    assert(run(Seq(0L, 1L, 2L)) === run(Seq(2L, 0L, 1L)))
  }

  test("a late interval bridges two islands and renumbers ordinals") {
    val s = spark; import s.implicits._
    // state: user 1 has islands [0,10] and [100,110]; the late interval
    // [5,105] overlaps BOTH -> one island [0,110], counts sum 2+1+1
    var st = SeriesStream.mergeBatch(SeriesStream.emptyState(s),
      Seq((1L, 0L, 10L, 1L), (1L, 100L, 110L, 2L))
        .toDF("user_id", "st", "en", "event_id"))
    assert(stateSet(st) === Set((1L, 1L, 0L, 10L, 1L), (1L, 2L, 100L, 110L, 1L)))
    st = SeriesStream.mergeBatch(st,
      Seq((1L, 5L, 105L, 3L)).toDF("user_id", "st", "en", "event_id"))
    assert(stateSet(st) === Set((1L, 1L, 0L, 110L, 3L)))
  }

  test("transformWithState islands seal at the watermark and match batch") {
    val s = spark
    withRocksDb {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val base = 1700000000000000L // µs
      def iv(u: Long, stOff: Long, enOff: Long) =
        SeriesStream.IvIn(u, new java.sql.Timestamp((base + stOff) / 1000),
          base + stOff, base + enOff)
      // u1: [0,10s] and [5s,20s] merge; [30s,35s] separate
      // u2: [0,8s]; a LATE-batch bridge [7s,32s] joins [40s,45s]? no —
      //     it merges with [0,8s] only (32s < 40s), then [40s,45s] alone
      val b1 = Seq(iv(1, 0L, 10000000L), iv(2, 0L, 8000000L))
      val b2 = Seq(iv(1, 5000000L, 20000000L), iv(2, 7000000L, 32000000L))
      val b3 = Seq(iv(1, 30000000L, 35000000L), iv(2, 40000000L, 45000000L))
      val in = MemoryStream[SeriesStream.IvIn]
      in.addData(b1)
      val out = SeriesStream.intervalStateStream(
        in.toDS().withWatermark("ts", "1 second"))
      val name = s"ivstate_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        Seq(b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
        // flush: a far-future dummy event closes the watermark
        in.addData(iv(-1L, 7200000000000L, 7200000001000L))
        q.processAllAvailable()
        val finals = s.table(name).as[SeriesStream.IvOut].collect()
          .filter(_.userId != -1L)
          .map(o => (o.userId, o.startUs - base, o.endUs - base, o.nEvents))
          .toSet
        assert(finals === Set(
          (1L, 0L, 20000000L, 2L), (1L, 30000000L, 35000000L, 1L),
          (2L, 0L, 32000000L, 2L), (2L, 40000000L, 45000000L, 1L)))
      } finally q.stop()
    }
  }

  test("interval state survives a checkpointed query restart") {
    val s = spark
    withRocksDb {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val base = 1700000000000000L
      def iv(u: Long, stOff: Long, enOff: Long) =
        SeriesStream.IvIn(u, new java.sql.Timestamp((base + stOff) / 1000),
          base + stOff, base + enOff)
      val ckpt = java.nio.file.Files.createTempDirectory("ck-iv").toString
      val outDir = java.nio.file.Files.createTempDirectory("out-iv").toString + "/t"
      val in = MemoryStream[SeriesStream.IvIn]
      def start() = SeriesStream.intervalStateStream(
          in.toDS().withWatermark("ts", "1 second"))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[SeriesStream.IvOut], _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .start()
      // first life: an OPEN island for user 9
      in.addData(iv(9, 0L, 10000000L))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // second life: an overlapping interval must MERGE with the restored
      // island (possible only if state survived), then the flush seals it
      val q2 = start()
      in.addData(iv(9, 5000000L, 20000000L))
      q2.processAllAvailable()
      in.addData(iv(-1L, 7200000000000L, 7200000001000L))
      q2.processAllAvailable()
      q2.stop()
      val rows = s.read.parquet(outDir).as[SeriesStream.IvOut].collect()
        .filter(_.userId == 9L)
        .map(o => (o.startUs - base, o.endUs - base, o.nEvents)).toSet
      assert(rows === Set((0L, 20000000L, 2L)),
        s"restored state did not merge: $rows")
    }
  }

  test("q124 twin: day-partials folded per batch report identical " +
      "change points") {
    val orders = graft.Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
          .as("day_idx"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val cuts = Seq(keys(keys.length / 4), keys(keys.length * 2 / 3))
    val slices = Seq(
      orders.filter(col("o_orderkey") < cuts.head),
      orders.filter(col("o_orderkey") >= cuts.head &&
        col("o_orderkey") < cuts(1)),
      orders.filter(col("o_orderkey") >= cuts(1)))
    // maintained state: per-day revenue partials, merged by SUM — a day
    // split across micro-batches re-sums exactly
    var state = slices.head.sparkSession.emptyDataFrame
    slices.zipWithIndex.foreach { case (slice, i) =>
      val part = slice.groupBy(col("day_idx"), col("day"))
        .agg(sum(col("cents")).as("rev_cents"))
      state = if (i == 0) part.localCheckpoint(true)
        else state.unionByName(part)
          .groupBy(col("day_idx"), col("day"))
          .agg(sum(col("rev_cents")).as("rev_cents"))
          .localCheckpoint(true)
    }
    val streamed = graft.operators.Series.changePointsFrom(state)
      .collect().map(_.toSeq)
    val batch = graft.operators.Series.changePoints(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("untouched users carry through; early insert renumbers") {
    val s = spark; import s.implicits._
    var st = SeriesStream.mergeBatch(SeriesStream.emptyState(s),
      Seq((1L, 100L, 110L, 1L), (2L, 0L, 5L, 2L))
        .toDF("user_id", "st", "en", "event_id"))
    // user 1 gets an interval BEFORE its island: ordinals shift, user 2
    // (untouched) keeps its row
    st = SeriesStream.mergeBatch(st,
      Seq((1L, 0L, 10L, 3L)).toDF("user_id", "st", "en", "event_id"))
    assert(stateSet(st) === Set(
      (1L, 1L, 0L, 10L, 1L), (1L, 2L, 100L, 110L, 1L), (2L, 1L, 0L, 5L, 1L)))
  }
}
