package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.StreamingFrames
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType
import graft.streaming.VersionedState

/** Streaming consumer of one topic of a [[Kafka.txnProduce]] ledger —
  * the offset-tracking Kafka consumer of the reference
  * (`MyKafkaUtil.java:23-29`), with the ledger's segment version as the
  * offset (the Structured Streaming model of a source as a replayable
  * log addressed by offsets).
  *
  *  - offset: the highest COMMITTED segment version holding the topic
  *    ([[VersionedState.latestVersionHolding]]), so a half-written `v=N`
  *    (no `_SUCCESS`) stays invisible until the producer's replay commits
  *    it — the one committed-ness rule `txnProduce`, `readCommitted` and
  *    `expireSegments` follow — and, as on a Kafka topic, a segment with
  *    nothing for this topic does not move its offset or start a batch;
  *  - `getBatch(start, end]`: one parquet scan of the committed
  *    `v=N/topic=<topic>` dirs in that range (versions with no dir for
  *    the topic contribute nothing; a range with none is empty).
  *
  * The offset is safe because each ledger has ONE sequential writer:
  * version N+1 is produced only after version N committed, so every
  * version at or below the offset is either committed or never will be.
  * A poll is one listing of the ledger root plus a `_SUCCESS` and a
  * topic-dir check from the newest version down — no glob, no file
  * index, no seen-files log.
  *
  * Under retention ([[Kafka.expireSegments]]) a segment can vanish
  * between the listing here and the scan; `getBatch` skips dirs already
  * gone and sets `ignoreMissingFiles` for a rename racing the scan.
  * Retention's contract keeps its horizon beyond consumer lag, so only a
  * consumed range can lose segments — the last committed one, which
  * Spark plans again once on restart — and the skip loses nothing. */
class LedgerSource(s: SparkSession, ledger: String, topic: String)
    extends Source {

  override def schema: StructType = LedgerSource.Schema

  override def getOffset: Option[Offset] =
    VersionedState.latestVersionHolding(s, ledger, s"topic=$topic")
      .map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // offsets recovered from the checkpoint arrive as SerializedOffset
    val from = start.fold(-1L)(_.json.toLong)
    val to = end.json.toLong
    val fs = new Path(ledger).getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = VersionedState.committedVersions(s, ledger)
      .filter(v => v > from && v <= to)
      .map(v => new Path(s"$ledger/v=$v/topic=$topic"))
      .filter(fs.exists)
    if (dirs.isEmpty) StreamingFrames.emptyStreaming(s, schema)
    else StreamingFrames.asStreaming(s.read.schema(schema)
      .option("ignoreMissingFiles", "true")
      .parquet(dirs.map(_.toString): _*))
  }

  override def stop(): Unit = ()

  /** The source's description in streaming progress: names the topic. */
  override def toString: String = s"LedgerSource[$topic]"
}

object LedgerSource {
  /** The ledger record: [[Kafka.toJsonValue]]'s single JSON column. */
  val Schema: StructType = StructType.fromDDL("value STRING")
}

/** Loaded by class name (`LayeredPipeline.topicStream`); options `path`
  * (the ledger root) and `topic`. */
class LedgerSourceProvider extends StreamSourceProvider {

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    ("ledger", LedgerSource.Schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new LedgerSource(sqlContext.sparkSession, parameters("path"),
      parameters("topic"))
}
