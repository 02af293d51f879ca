package graft.streaming

import graft.SparkSpec
import graft.apps.LayeredPipeline
import graft.sources.Kafka
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ledger segment retention ([[Kafka.expireSegments]]) — the Kafka
  * topic-retention analogue SOAK.md named as the knob for its one
  * measured non-plateau (every ledger listing grows with the committed
  * segments; the reference's topics carry retention for exactly this
  * reason). Gates:
  *
  *  - a replayed batchId whose segment was EXPIRED is still a no-op
  *    (the `_retention_hwm` marker carries the skip past the deleted
  *    dirs), and the hwm is monotonic across repeated expiries;
  *  - a consumer restarting from its checkpoint across an expiry sees
  *    each record exactly once — pre-expiry segments were consumed
  *    before they were deleted, post-expiry segments drain normally;
  *  - the segment listing (the per-trigger cost driver) shrinks to the
  *    retained suffix;
  *  - a FULLY expired ledger still rejects replays and accepts fresh
  *    produce.
  */
class LedgerRetentionSpec extends SparkSpec {

  private def oneTopicBatch(ids: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    ids.toDF("id").select(lit("t").as("topic"),
      to_json(struct(col("id"))).as("value"))
  }

  private def segmentVersions(broker: String): Seq[Long] = {
    val dir = new java.io.File(broker)
    if (!dir.exists()) Seq.empty
    else dir.listFiles().toSeq.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong).sorted
  }

  private def emptyTotals(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "n BIGINT, total BIGINT"))

  /** Ledger consumer of topic `t` folding (count, sum of ids) into a
    * [[VersionedState]] — content equality, not just row counts. */
  private def consume(broker: String, stateDir: String, ckpt: String) = {
    val s = spark
    LayeredPipeline.topicStream(s, broker, "t")
      .select(get_json_object(col("value"), "$.id").cast("long").as("id"))
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        VersionedState.applyBatch(s, stateDir, id, b, emptyTotals(s),
          (st, bt) => st.unionByName(
              bt.agg(count(lit(1)).as("n"), sum(col("id")).as("total")))
            .agg(sum(col("n")).as("n"), sum(col("total")).as("total")))
        (): Unit
      }.option("checkpointLocation", ckpt).start()
  }

  test("retention: expired replay no-op, restart across expiry exactly-once, listing shrinks") {
    val s = spark
    val stage =
      java.nio.file.Files.createTempDirectory("graft-retain").toString
    val broker = s"$stage/ledger"; val st = s"$stage/state"
    val ckpt = s"$stage/ckpt"

    // three committed segments, disjoint id ranges
    val batches = Seq(0L -> (0L until 10L), 1L -> (10L until 25L),
      2L -> (25L until 30L))
    batches.foreach { case (v, ids) =>
      assert(Kafka.txnProduce(oneTopicBatch(ids), broker, v))
    }

    // consumer drains all three, then stops (it is CURRENT — retention
    // beyond its progress is within the Kafka-contract horizon)
    val q1 = consume(broker, st, ckpt)
    q1.processAllAvailable(); q1.stop()
    val afterFirst = VersionedState.read(s, st, fail("state must exist"))
      .collect()
    assert(afterFirst.map(_.getLong(0)).sum === 30L)

    // expire v=0,v=1; hwm records the highest deleted version
    assert(Kafka.expireSegments(s, broker, keepFrom = 2L) === 2)
    assert(Kafka.retentionHwm(s, broker) === Some(1L))
    assert(segmentVersions(broker) === Seq(2L))
    // a replayed batchId with no surviving segment is STILL a no-op
    assert(!Kafka.txnProduce(oneTopicBatch(Seq(999L)), broker, 0L))
    assert(!Kafka.txnProduce(oneTopicBatch(Seq(999L)), broker, 1L))
    // hwm is monotonic: a lower keepFrom deletes nothing, changes nothing
    assert(Kafka.expireSegments(s, broker, keepFrom = 0L) === 0)
    assert(Kafka.retentionHwm(s, broker) === Some(1L))
    // read_committed sees only the retained suffix
    val live = Kafka.readCommitted(s, broker)
      .select(col("batch_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(live === Set(2L))

    // fresh produce continues past the expiry; the restarted consumer
    // drains ONLY the new segment (expired rows were already folded in)
    assert(Kafka.txnProduce(oneTopicBatch(30L until 42L), broker, 3L))
    val q2 = consume(broker, st, ckpt)
    q2.processAllAvailable(); q2.stop()
    val fin = VersionedState.read(s, st, fail("state must exist")).collect()
    assert(fin.length === 1)
    assert(fin.head.getLong(0) === 42L, "every id exactly once")
    assert(fin.head.getLong(1) === (0L until 42L).sum, "content exact")

    // full expiry: the ledger keeps rejecting replays and accepting
    // fresh produce with nothing but the hwm marker left
    assert(Kafka.expireSegments(s, broker, keepFrom = Long.MaxValue) === 2)
    assert(Kafka.retentionHwm(s, broker) === Some(3L))
    assert(segmentVersions(broker).isEmpty)
    assert(!Kafka.txnProduce(oneTopicBatch(Seq(999L)), broker, 3L))
    assert(Kafka.txnProduce(oneTopicBatch(Seq(42L)), broker, 4L))
    val tail = Kafka.readCommitted(s, broker).collect()
    assert(tail.length === 1 && tail.head.getAs[Long]("batch_id") === 4L)
  }

  test("crash mid-expiry: hwm written but segments undeleted — replay-safe, rerun completes") {
    // expireSegments' ordering claim: the hwm marker is created BEFORE
    // any delete, so a crash between them leaves EXTRA segments under an
    // ADVANCED hwm — never deleted data with a stale hwm. Simulate the
    // crash state directly and assert both halves of the claim.
    val s = spark
    val stage =
      java.nio.file.Files.createTempDirectory("graft-retain-crash").toString
    val broker = s"$stage/ledger"
    Seq(0L, 1L, 2L).foreach(v =>
      assert(Kafka.txnProduce(oneTopicBatch(Seq(v * 10)), broker, v)))
    // the crash state: hwm says v<=1 expired, but the process died
    // before deleting them — both segments still on disk
    new java.io.File(broker, "_retention_hwm=1").createNewFile()
    assert(Kafka.retentionHwm(s, broker) === Some(1L))
    // replay-skip already honors the advanced hwm (no double-produce
    // even though v=0/v=1 will soon vanish)
    assert(!Kafka.txnProduce(oneTopicBatch(Seq(999L)), broker, 1L))
    // re-running retention (the recovery path) completes the delete and
    // keeps the hwm; nothing is double-counted
    assert(Kafka.expireSegments(s, broker, keepFrom = 2L) === 2)
    assert(Kafka.retentionHwm(s, broker) === Some(1L))
    assert(segmentVersions(broker) === Seq(2L))
  }

  test("crash mid-delete: orphaned rename tombstone is swept, invisible to consumers") {
    // the rename-then-delete discipline can die between the two ops,
    // leaving a hidden `.expired-v=N` tombstone. It must be invisible to
    // every reader (dot-prefix = Spark hidden path) and swept by the
    // next expiry pass.
    val s = spark
    val stage =
      java.nio.file.Files.createTempDirectory("graft-retain-tomb").toString
    val broker = s"$stage/ledger"
    Seq(0L, 1L).foreach(v =>
      assert(Kafka.txnProduce(oneTopicBatch(Seq(v * 10)), broker, v)))
    // simulate the half-deleted state: v=0 renamed but not yet removed
    val fs = new org.apache.hadoop.fs.Path(broker)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(broker, "v=0"),
      new org.apache.hadoop.fs.Path(broker, ".expired-v=0")))
    new java.io.File(broker, "_retention_hwm=0").createNewFile()
    // invisible to the consumer view and the version listing
    assert(Kafka.readCommitted(s, broker).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(1L))
    assert(segmentVersions(broker) === Seq(1L))
    // the next retention pass (even a no-op one) sweeps the tombstone
    assert(Kafka.expireSegments(s, broker, keepFrom = 1L) === 0)
    assert(!new java.io.File(broker, ".expired-v=0").exists())
    assert(segmentVersions(broker) === Seq(1L))
  }
}
