package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Chaos leg for the state-heaviest foreachBatch twins (ScdStream,
  * IndexStream, EffectiveSizeStream): each is driven through a REAL
  * checkpointed streaming query that is stopped mid-corpus and restarted
  * from its checkpoint — the production crash-recovery path the per-batch
  * merge specs cannot exercise. Events keep arriving while the query is
  * down (MemoryStream retains them; the checkpoint's committed offsets
  * make the second life resume exactly after the last processed batch),
  * and state rides [[VersionedState]] so the restart's replayed batch —
  * Structured Streaming re-runs the last batch if its commit log entry
  * is missing — merges exactly once. Final state must equal the batch
  * construction over the whole corpus, proving the kill lost nothing and
  * the replay double-counted nothing.
  *
  * Mirrors the reference's restart story: its jobs resume from Flink
  * checkpoints with Phoenix/Kafka state intact (BaseDBApp setCheckpoint,
  * app/dwd/BaseDBApp.java:51-57); here the checkpoint dir + versioned
  * state dir together are that contract.
  */
class RestartRecoverySpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def histSet(df: DataFrame) = df.collect().map(r =>
    (r.getAs[Long]("user_id"), r.getAs[String]("status"),
      r.getAs[Long]("valid_from"), Option(r.getAs[Any]("valid_to")),
      r.getAs[Long]("n_events"), r.getAs[Boolean]("is_current"),
      r.getAs[Long]("run_id"))).toSet

  test("ScdStream: stop/restart from checkpoint mid-corpus equals batch q71") {
    withRocksDb {
      val s = spark; import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val stage = tmp("graft-scd-restart")
      val statePath = s"$stage/hist"; val ckpt = s"$stage/ckpt"
      val ev = graft.Tables.load(s, sf, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"),
          col("event_type").as("status"))
        .orderBy(col("us"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3)))
      val input = MemoryStream[(Long, Long, Long, String)]
      def start() = input.toDF().toDF("user_id", "us", "event_id", "status")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          VersionedState.applyBatch(s, statePath, id, b,
            ScdStream.emptyHistory(s), ScdStream.mergeBatch)
          (): Unit
        }
        .option("checkpointLocation", ckpt)
        .start()
      // first life: two uneven batches (the second splits a run mid-way)
      input.addData(ev.slice(0, 137): _*)
      val q1 = start()
      q1.processAllAvailable()
      input.addData(ev.slice(137, 401): _*)
      q1.processAllAvailable()
      q1.stop() // kill mid-corpus
      // events arrive while the query is down; the restart must pick them
      // up AFTER the checkpointed offset, not re-read batch 0
      input.addData(ev.slice(401, ev.length): _*)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val streamed = histSet(VersionedState.read(s, statePath,
        ScdStream.emptyHistory(s)))
      val batch = histSet(graft.operators.Scd.scd2HistoryFrom(
        ev.toSeq.toDF("user_id", "us", "event_id", "status")))
      assert(streamed === batch)
      assert(streamed.size > 500)
      // the restart really produced a later version than the first life's
      assert(VersionedState.latestVersion(s, statePath).exists(_ >= 2L))
    }
  }

  test("IndexStream: stop/restart from checkpoint equals batch q125") {
    withRocksDb {
      val s = spark; import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val stage = tmp("graft-index-restart")
      val statePath = s"$stage/index"; val ckpt = s"$stage/ckpt"
      val names = Seq("state", "indexed")
      def empty = Map(
        "state" -> IndexStream.emptyState(s),
        "indexed" -> IndexStream.emptyIndexed(s))
      val docs = graft.Tables.load(s, sf, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)]
      def start() = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          VersionedState.applyBatchMulti(s, statePath, id, b, names, empty,
            (st: Map[String, DataFrame], batch: DataFrame) => {
              val r = IndexStream.mergeBatch(st("state"), st("indexed"), batch)
              Map("state" -> r._1, "indexed" -> r._2)
            })
          (): Unit
        }
        .option("checkpointLocation", ckpt)
        .start()
      input.addData(docs.slice(0, docs.length / 3): _*)
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // kill after the first third
      input.addData(docs.slice(docs.length / 3, docs.length): _*)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val st = VersionedState.readMulti(s, statePath, names, empty)
      val streamed = IndexStream.report(st("state")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      val batch = graft.operators.TextQueries.postingsIndex(s, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      assert(streamed.toSeq === batch.toSeq)
      assert(st("indexed").count() === docs.length.toLong)
    }
  }

  test("EffectiveSizeStream: stop/restart from checkpoint equals batch q152") {
    withRocksDb {
      val s = spark; import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val stage = tmp("graft-effsize-restart")
      val statePath = s"$stage/effsize"; val ckpt = s"$stage/ckpt"
      val names = Seq("hashes", "bands", "labels")
      def empty = Map(
        "hashes" -> EffectiveSizeStream.emptyHashes(s),
        "bands" -> EffectiveSizeStream.emptyBands(s),
        "labels" -> EffectiveSizeStream.emptyLabels(s))
      val docs = graft.Tables.load(s, sf, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)]
      def start() = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          VersionedState.applyBatchMulti(s, statePath, id, b, names, empty,
            (st: Map[String, DataFrame], batch: DataFrame) => {
              val r = EffectiveSizeStream.mergeBatch(
                st("hashes"), st("bands"), st("labels"), batch)
              Map("hashes" -> r._1, "bands" -> r._2, "labels" -> r._3)
            })
          (): Unit
        }
        .option("checkpointLocation", ckpt)
        .start()
      // kill between two batches that SPLIT near-dup clusters across the
      // restart boundary: pairs whose later member arrives in life 2 must
      // still be discovered against the persisted band index
      input.addData(docs.slice(0, docs.length / 2): _*)
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      input.addData(docs.slice(docs.length / 2, docs.length): _*)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val st = VersionedState.readMulti(s, statePath, names, empty)
      val streamed = EffectiveSizeStream.report(st("labels")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val batch = graft.operators.TextQueries.effectiveSize(s, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(streamed.toSeq === batch.toSeq)
    }
  }
}
