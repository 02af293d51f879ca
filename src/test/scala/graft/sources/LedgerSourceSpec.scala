package graft.sources

import graft.SparkSpec
import graft.apps.LayeredPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

/** [[LedgerSource]]: the ledger consumer's offset is the highest
  * committed segment version holding its topic, so
  *
  *  - a half-written `v=N` (no `_SUCCESS`) is invisible until the
  *    producer's replay commits it, and its rows then arrive once;
  *  - a restart from the checkpoint replays the in-flight version range
  *    exactly as it was logged, whatever was produced meanwhile;
  *  - versions with no directory for the topic start no batch of their
  *    own, and a range of only such versions reads as empty.
  */
class LedgerSourceSpec extends SparkSpec {

  private def batch(topic: String, ids: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    ids.toDF("id").select(lit(topic).as("topic"),
      to_json(struct(col("id"))).as("value"))
  }

  /** Consumer of topic `t` recording each micro-batch's ids by batch id
    * (a re-run batch id overwrites its entry); `failOn` makes that batch
    * throw after its ids were read, as a crash before the commit. */
  private def consume(broker: String, ckpt: String,
                      seen: collection.concurrent.Map[Long, Seq[Long]],
                      failOn: Option[Long] = None): StreamingQuery =
    LayeredPipeline.topicStream(spark, broker, "t")
      .select(get_json_object(col("value"), "$.id").cast("long").as("id"))
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        seen.put(id, b.collect().map(_.getLong(0)).toSeq.sorted)
        if (failOn.contains(id)) sys.error(s"crash in batch $id")
        (): Unit
      }.option("checkpointLocation", ckpt).start()

  private def stage(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def newSeen = collection.concurrent.TrieMap.empty[Long, Seq[Long]]

  test("uncommitted segment is invisible until its replay commits; rows arrive once") {
    val dir = stage("graft-ledger-src-half")
    val broker = s"$dir/ledger"
    assert(Kafka.txnProduce(batch("t", 0L until 3L), broker, 0L))
    // the crash state of a producer that died mid-produce of v=1: part
    // files under the topic dir, but no v=1/_SUCCESS commit marker
    batch("t", 100L until 104L).select(col("value")).write
      .parquet(s"$broker/v=1/topic=t")
    new java.io.File(s"$broker/v=1/topic=t/_SUCCESS").delete()
    assert(graft.streaming.VersionedState.latestVersion(spark, broker) ===
      Some(0L))

    val seen = newSeen
    val q = consume(broker, s"$dir/ckpt", seen)
    try {
      q.processAllAvailable()
      assert(seen.values.flatten.toSeq.sorted === (0L until 3L),
        "only the committed segment is visible")
      // the producer's replay of batch 1 overwrites and commits v=1
      assert(Kafka.txnProduce(batch("t", 10L until 14L), broker, 1L))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.values.flatten.toSeq.sorted === (0L until 3L) ++ (10L until 14L),
      "every committed row exactly once, none of the half-written ones")
  }

  test("restart from the checkpoint replays the in-flight range exactly once") {
    val dir = stage("graft-ledger-src-restart")
    val broker = s"$dir/ledger"; val ckpt = s"$dir/ckpt"
    assert(Kafka.txnProduce(batch("t", 0L until 10L), broker, 0L))
    val seen = newSeen
    val q0 = consume(broker, ckpt, seen)
    q0.processAllAvailable(); q0.stop()
    assert(seen(0L) === (0L until 10L))

    // two segments land while the consumer is down; its next life takes
    // both in batch 1 and dies before committing it
    assert(Kafka.txnProduce(batch("t", 10L until 15L), broker, 1L))
    assert(Kafka.txnProduce(batch("t", 15L until 20L), broker, 2L))
    val q1 = consume(broker, ckpt, seen, failOn = Some(1L))
    intercept[StreamingQueryException](q1.awaitTermination())
    assert(seen(1L) === (10L until 20L))

    // a further segment lands before the restart: the replayed batch 1
    // keeps its logged range (0, 2], and v=3 follows in batch 2
    assert(Kafka.txnProduce(batch("t", 20L until 25L), broker, 3L))
    seen.remove(1L)
    val q2 = consume(broker, ckpt, seen)
    try q2.processAllAvailable() finally q2.stop()
    assert(seen(1L) === (10L until 20L), "in-flight range replayed as logged")
    assert(seen(2L) === (20L until 25L))
    assert(seen.values.flatten.toSeq.sorted === (0L until 25L))
  }

  test("versions with no directory for the topic start no batch and read as empty") {
    val dir = stage("graft-ledger-src-empty")
    val broker = s"$dir/ledger"
    assert(Kafka.txnProduce(batch("t", Seq(1L)), broker, 0L))
    val seen = newSeen
    val q = consume(broker, s"$dir/ckpt", seen)
    try {
      q.processAllAvailable()
      // v=1 carries only another topic, v=2 no rows at all: the offset
      // of topic t stays at 0, as a Kafka topic's does when a
      // transaction writes only to other topics
      assert(Kafka.txnProduce(batch("u", Seq(2L)), broker, 1L))
      assert(Kafka.txnProduce(batch("t", Seq.empty), broker, 2L))
      q.processAllAvailable()
      assert(seen.keySet === Set(0L))
      assert(Kafka.txnProduce(batch("t", Seq(3L)), broker, 3L))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.toMap === Map(0L -> Seq(1L), 1L -> Seq(3L)))

    // a range holding only such versions reads as an empty streaming frame
    val empty = new LedgerSource(spark, broker, "t").getBatch(
      Some(LongOffset(0L)), LongOffset(2L))
    assert(empty.isStreaming)
    assert(empty.queryExecution.analyzed match {
      case r: LocalRelation => r.data.isEmpty
      case _                => false
    })
  }
}
