package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.AsOfStream._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class AsOfStreamSpec extends SparkSpec {

  private val base = 1700000000000L

  private def run(batches: Seq[Seq[AsOfIn]]): Array[AsOfOut] = withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[AsOfIn]
    in.addData(batches.head)
    val out = asOfStream(in.toDS().withWatermark("ts", "1 second"))
    val name = s"asof_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      batches.tail.foreach { b => in.addData(b); q.processAllAvailable() }
      // close the watermark so final timers fire
      in.addData(AsOfIn(-1L, new Timestamp(base + 3600000L), 0, -1L, 0.0))
      q.processAllAvailable()
      s.table(name).as[AsOfOut].collect().filter(_.k != -1L)
    } finally q.stop()
  }

  test("as-of version state survives a checkpointed query restart") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ckpt = java.nio.file.Files.createTempDirectory("ck-asof").toString
      val out = java.nio.file.Files.createTempDirectory("out-asof").toString + "/t"
      val in = MemoryStream[AsOfIn]
      def start() = asOfStream(in.toDS().withWatermark("ts", "1 second"))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[AsOfOut], _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .start()
      // first life: only a VERSION for key 7 arrives (no lookups yet)
      in.addData(AsOfIn(7, new Timestamp(base + 100), 1, 0, 42.0))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      // second life from the checkpoint: a lookup AFTER the version must
      // match it — only possible if the version survived the restart
      val q2 = start()
      in.addData(AsOfIn(7, new Timestamp(base + 500), 0, 1, 0.0))
      q2.processAllAvailable()
      in.addData(AsOfIn(-1, new Timestamp(base + 3600000L), 0, -1, 0.0))
      q2.processAllAvailable()
      q2.stop()
      val rows = s.read.parquet(out).as[AsOfOut].collect().filter(_.k == 7L)
      assert(rows.length === 1)
      assert(rows.head.asofV === Some(42.0),
        "version state lost across restart: lookup found no as-of match")
    }
  }

  test("streaming as-of matches versions at-or-before, across micro-batches") {
    val out = run(Seq(
      Seq(AsOfIn(1, new Timestamp(base + 100), 1, 0, 1.0),   // version @100
          AsOfIn(1, new Timestamp(base + 250), 0, 10, 0.0)), // probe  @250
      Seq(AsOfIn(1, new Timestamp(base + 300), 1, 0, 2.0),   // version @300
          AsOfIn(1, new Timestamp(base + 300), 0, 11, 0.0),  // probe  @300 (tie)
          AsOfIn(1, new Timestamp(base + 50), 0, 12, 0.0),   // probe before any version
          AsOfIn(2, new Timestamp(base + 400), 0, 20, 0.0))  // other key, no versions
    )).map(o => o.id -> ((o.asofTs, o.asofV))).toMap
    assert(out(10L) === ((Some(base + 100), Some(1.0))))
    assert(out(11L) === ((Some(base + 300), Some(2.0)))) // simultaneous matches
    assert(out(12L) === ((None, None)))
    assert(out(20L) === ((None, None)))
  }

  test("streaming as-of equals the batch as-of on the same data") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random rows over 3 keys; key decoupled from side
    val rows = (0 until 120).map { i =>
      val k = (i * 5 % 3).toLong
      val t = base + (i * 131 % 997) * 1000L
      if (i % 3 == 0) AsOfIn(k, new Timestamp(t), 1, 0, (i % 17).toDouble)
      else AsOfIn(k, new Timestamp(t), 0, 1000L + i, 0.0)
    }
    // batches must advance with event time (rows beyond the watermark are
    // dropped as late); scramble order WITHIN each batch to exercise
    // out-of-order buffering
    val ordered = rows.sortBy(_.ts.getTime)
    def scramble(b: Seq[AsOfIn]) = b.sortBy(r => r.id * 2654435761L % 1000)
    val batches = Seq(ordered.take(40), ordered.slice(40, 80), ordered.drop(80))
      .map(scramble)
    val got = run(batches)
      .map(o => (o.id, o.asofTs, o.asofV)).toSet

    val left = rows.filter(_.side == 0)
      .map(r => (r.id, r.k, r.ts.getTime)).toDF("id", "k", "t")
    val right = rows.filter(_.side == 1)
      .map(r => (r.k, r.ts.getTime, r.v)).toDF("k", "t", "v")
      .groupBy(col("k"), col("t")).agg(max(col("v")).as("v"))
    val batch = graft.operators.AsOf
      .asOfJoin(left, right, Seq("k"), "t", Seq("v"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    assert(got === batch)
  }

  test("superseded right versions are pruned after a drain (bounded state)") {
    // versions at 100/200/300, then a probe at 350: winner is 300; after
    // the drain only the winner may remain relevant. A later probe at 360
    // must still match 300 — proving pruning kept the winner.
    val out = run(Seq(
      Seq(AsOfIn(5, new Timestamp(base + 100), 1, 0, 1.0),
          AsOfIn(5, new Timestamp(base + 200), 1, 0, 2.0),
          AsOfIn(5, new Timestamp(base + 300), 1, 0, 3.0),
          AsOfIn(5, new Timestamp(base + 350), 0, 50, 0.0)),
      Seq(AsOfIn(5, new Timestamp(base + 360), 0, 51, 0.0))
    )).map(o => o.id -> o.asofV).toMap
    assert(out(50L) === Some(3.0))
    assert(out(51L) === Some(3.0))
  }
}
