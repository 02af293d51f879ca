package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** The exactly-once topic ledger: the on-disk stand-in for the
  * reference's transactional Kafka topics (MyKafkaUtil.java:38-45) that
  * every `graft.apps.LayeredPipeline` hop produces to and consumes from.
  *
  *  - [[txnProduce]] writes one micro-batch as one committed segment
  *    (`v=<batchId>`, partitioned by `topic`) and skips a replayed
  *    batchId, so a hop's produce is exactly-once;
  *  - [[graft.sources.LedgerSource]] (streaming) and [[readCommitted]]
  *    (batch) read only `_SUCCESS`-committed segments — the
  *    `read_committed` consumer;
  *  - [[expireSegments]] is topic retention.
  *
  * A replayable source plus an idempotent sink is the Structured
  * Streaming recipe for end-to-end exactly-once; the transformations
  * between them are plain DataFrame functions, tested over MemoryStream
  * and batch frames.
  */
object Kafka {

  /** Serialize all columns into the single JSON `value` column every
    * downstream from_json consumer parses — the one definition all
    * producer sites share so shapes cannot silently diverge. */
  def toJsonValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))

  /** K2-EO — the EXACTLY_ONCE half of the reference's producer contract
    * (MyKafkaUtil.java:38-45 configures a transactional producer with a
    * 15-minute transaction timeout). Spark's built-in Kafka sink is
    * at-least-once: after a crash the last uncommitted micro-batch
    * REPLAYS with the same batchId and its records are produced again.
    * The reference closes the gap with Kafka transactions; this writer
    * closes it with the same two ingredients, file-backed (the sandbox
    * stand-in — on a real cluster the produce step becomes a
    * transactional producer and the commit marker its txn commit):
    *
    *  - batch b's records land under `brokerDir/v=b`, partitioned by
    *    `topic` (the transactional segment);
    *  - the segment is COMMITTED only once its `_SUCCESS` marker exists
    *    (written by Spark after the parquet job commits) — the
    *    transaction-marker analogue;
    *  - [[readCommitted]] (the `read_committed` consumer) unions only
    *    committed segments, so a crash's half-written segment is
    *    invisible, and the replay overwrites it idempotently;
    *  - a REDELIVERED batchId whose segment is already committed is
    *    skipped outright — no duplicate produce (the ledger check is
    *    `VersionedState.latestVersion`, batchIds being monotonic under
    *    Structured Streaming's replay contract).
    */
  def txnProduce(batch: DataFrame, brokerDir: String, batchId: Long): Boolean = {
    val s = batch.sparkSession
    // the replay-skip consults BOTH live segments and the retention
    // high-watermark: a batchId whose segment [[expireSegments]] already
    // deleted must stay a no-op, not re-produce into an expired slot
    val committed =
      (graft.streaming.VersionedState.latestVersion(s, brokerDir).toSeq ++
        retentionHwm(s, brokerDir)).maxOption
    if (committed.exists(_ >= batchId)) false
    else {
      batch.write.partitionBy("topic").mode("overwrite")
        .parquet(s"$brokerDir/v=$batchId")
      true
    }
  }

  /** The exactly-once dynamic-topic writer: K2's (topic, value) shape
    * through [[txnProduce]] per micro-batch. */
  def exactlyOnceDynamicTopicSink(routed: DataFrame, brokerDir: String,
                                  checkpoint: String): DataStreamWriter[Row] =
    routed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => { txnProduce(b, brokerDir, id); () })

  /** Marker files recording the highest EXPIRED segment version — the
    * retention high-watermark. The version is encoded in the FILENAME
    * (`_retention_hwm=N`), never in file content: file creation is
    * atomic where content writes are not, so a crash mid-expiry can
    * never surface a torn LOWER hwm (which would let an expired batchId
    * re-produce). Read = max over marker names; [[expireSegments]]
    * prunes superseded markers after creating the new one. Readers that
    * list segment dirs skip them (files, not `v=` directories). */
  private val RetentionHwmPrefix = "_retention_hwm="

  /** Highest segment version ever expired from `brokerDir`, if any. */
  def retentionHwm(s: SparkSession, brokerDir: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(brokerDir)
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) None
    else f.listStatus(root).toSeq.filter(_.isFile)
      .map(_.getPath.getName)
      .filter(_.startsWith(RetentionHwmPrefix))
      .map(_.stripPrefix(RetentionHwmPrefix).toLong)
      .maxOption
  }

  /** Ledger segment retention — the Kafka topic-retention analogue
    * (the reference's topics carry time-based retention; without it the
    * ledger's disk, and the root listing every [[LedgerSource]] poll and
    * [[txnProduce]] makes, grow with every segment ever committed).
    *
    * Deletes committed segments with version < `keepFrom`, first
    * recording the highest expired version in a `_retention_hwm` marker
    * so [[txnProduce]]'s exactly-once replay-skip survives even when
    * every data segment a batchId wrote is gone. Write-then-delete
    * ordering makes a crash mid-expiry safe: the hwm advanced but extra
    * segments survive — never a lost hwm with deleted data.
    *
    * Contract (exactly Kafka's): retention must exceed the maximum
    * consumer lag. A [[LedgerSource]] consumer restarting from its
    * checkpoint re-reads only its last in-flight version range, which the
    * contract keeps inside the horizon; a consumer lagging past the
    * horizon loses data, as it would on a retention-expired Kafka topic.
    *
    * Deletion is rename-then-delete, Kafka's own discipline (brokers
    * rename a segment `.deleted` and remove it after a delay so in-flight
    * reads never see a half-deleted file): recursively deleting `v=N` in
    * place races LIVE readers' scans — a directory captured by a listing
    * and walked mid-delete surfaces as AccessDenied/half-listed
    * (observed: the first retention-enabled soak killed its UV consumer
    * exactly this way). The atomic rename to a dot-prefixed name flips
    * visibility in one filesystem op — no `v=` listing matches it, and a
    * scan that captured the old path sees a clean whole-dir miss, which
    * its `ignoreMissingFiles` skips — after which the physical delete
    * proceeds with no reader able to walk in.
    *
    * Returns the number of segments expired. */
  def expireSegments(s: SparkSession, brokerDir: String,
                     keepFrom: Long): Int = {
    val root = new org.apache.hadoop.fs.Path(brokerDir)
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) return 0
    // sweep tombstones a crash between rename and delete left behind —
    // BEFORE the no-op early return, so recovery never waits on a
    // future non-empty expiry (they are dot-hidden from readers either
    // way, but they hold disk)
    f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(".expired-"))
      .foreach(p => f.delete(p, true))
    // visibility through the ONE committed-ness rule (VersionedState):
    // only _SUCCESS-committed segments are retention candidates — an
    // in-flight produce's half-written dir is the producer's to finish
    val expiredVersions = graft.streaming.VersionedState
      .committedVersions(s, brokerDir).filter(_ < keepFrom)
    val expired =
      expiredVersions.map(v => new org.apache.hadoop.fs.Path(root, s"v=$v"))
    if (expired.isEmpty) return 0
    val hwm = (expiredVersions ++ retentionHwm(s, brokerDir)).max
    f.create(new org.apache.hadoop.fs.Path(root,
      s"$RetentionHwmPrefix$hwm"), true).close()
    // prune superseded markers, then the segments; a crash anywhere in
    // between leaves extra markers or extra segments — never a lost hwm
    f.listStatus(root).toSeq.filter(_.isFile)
      .map(_.getPath)
      .filter(_.getName.startsWith(RetentionHwmPrefix))
      .filter(_.getName.stripPrefix(RetentionHwmPrefix).toLong < hwm)
      .foreach(p => f.delete(p, false))
    expired.foreach { p =>
      val hidden = new org.apache.hadoop.fs.Path(root, s".expired-${p.getName}")
      if (f.rename(p, hidden)) f.delete(hidden, true)
      else f.delete(p, true) // rename refused (FS quirk): fall back
    }
    // retry any tombstone whose delete failed just above (the entry
    // sweep handles ones a crash leaves for the NEXT call)
    f.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(".expired-"))
      .foreach(p => f.delete(p, true))
    expired.size
  }

  /** The `read_committed` consumer view of [[txnProduce]]'s broker dir:
    * only `_SUCCESS`-committed segments, each stamped with its batch id
    * (the offset analogue). */
  def readCommitted(s: SparkSession, brokerDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val versions =
      graft.streaming.VersionedState.committedVersions(s, brokerDir).sorted
    // ONE multi-path scan with basePath, not a per-version union (ADVICE
    // r10): with N committed micro-batches a union chain made the plan
    // O(N) nodes and the driver list the dir N more times; here `v` and
    // `topic` come back as partition columns of a single relation, so the
    // plan stays O(1) and partition pruning on batch_id works for free.
    // The _SUCCESS visibility rule is unchanged — only committed segment
    // roots are passed to the reader.
    if (versions.isEmpty)
      s.createDataFrame(
        s.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("value", StringType),
          StructField("topic", StringType),
          StructField("batch_id", LongType))))
    else
      s.read.option("basePath", brokerDir)
        .parquet(versions.map(v => s"$brokerDir/v=$v"): _*)
        .withColumn("batch_id", col("v").cast("long"))
        .drop("v")
  }
}
