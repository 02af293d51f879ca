package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Fault-tolerance semantics (SURVEY.md §4 exactly-once discussion): a
  * stopped query restarted from its checkpoint resumes at the committed
  * offsets — already-processed input is not reprocessed, so an idempotent
  * or append-only sink sees each record exactly once. This is the Spark
  * contract replacing the reference's Kafka EXACTLY_ONCE transactional
  * producer (MyKafkaUtil.java:44).
  */
class CheckpointRecoverySpec extends SparkSpec {

  test("restart from checkpoint does not reprocess committed batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ck-rec").toString
    val out = java.nio.file.Files.createTempDirectory("out-rec").toString + "/t"
    val in = MemoryStream[(Long, String)]

    def start() = in.toDF().toDF("id", "payload")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .start()

    in.addData((1L, "a"), (2L, "b"))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(s.read.parquet(out).count() === 2)

    in.addData((3L, "c"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val rows = s.read.parquet(out).select(col("id")).as[Long].collect().sorted
    assert(rows === Array(1L, 2L, 3L), s"expected no reprocessing, got ${rows.mkString(",")}")
  }

  test("transformWithState RocksDB state survives a query restart") {
    val s = spark
    withRocksDb {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ckpt = java.nio.file.Files.createTempDirectory("ck-v2").toString
      val out = java.nio.file.Files.createTempDirectory("out-v2").toString + "/t"
      val day1 = 1700000000000L
      val day2 = day1 + 86400000L
      val day3 = day2 + 86400000L
      val in = MemoryStream[graft.streaming.Model.LogEvent]

      def start() = StatefulOps.visitorRepair(
          in.toDS().withWatermark("ts", "1 second"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.Model.RepairedEvent], _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .start()

      // first life: m1's first visit on day1 gets recorded in RocksDB state
      in.addData(Model.LogEvent("m1", "home", null, "1", ts(day1)))
      val q1 = start()
      q1.processAllAvailable()
      in.addData(Model.LogEvent("zz", "home", "x", "0", ts(day2))) // advance watermark
      q1.processAllAvailable()
      q1.stop()

      // second life, restarted from the checkpoint: a lying "new" visit on
      // day2 must be REPAIRED — only possible if firstDay survived restart
      val q2 = start()
      in.addData(Model.LogEvent("m1", "home", null, "1", ts(day2)))
      q2.processAllAvailable()
      in.addData(Model.LogEvent("zz", "home", "x", "0", ts(day3)))
      q2.processAllAvailable()
      q2.stop()

      val m1 = s.read.parquet(out).as[graft.streaming.Model.RepairedEvent]
        .collect().filter(_.mid == "m1").sortBy(_.ts.getTime)
      assert(m1.length === 2)
      assert(m1.head.isNew === "1" && !m1.head.repaired)
      assert(m1.last.isNew === "0" && m1.last.repaired,
        "day-2 visit not repaired: first-visit state was lost across restart")
    }
  }
}
