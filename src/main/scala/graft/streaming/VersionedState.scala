package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Transactional versioned state for foreachBatch merges — the
  * exactly-once guard the parquet read-modify-write twins (ScdStream,
  * RollingStream, the dedup/feature stores) need under Spark's restart
  * contract: after a crash, Structured Streaming REPLAYS the last
  * uncommitted micro-batch with the SAME batchId, so an unguarded
  * `merge + overwrite` applies it twice (counts double, runs extend
  * twice). The reference leans on Phoenix upsert idempotence for the
  * same problem (DimSink.java:43-91); sum/extend merges are not
  * idempotent, so they need the batchId transaction instead.
  *
  * Protocol (the classic batchId-versioned-directory pattern):
  *  - state for batch b is written under `path/v=b` — a NEW directory,
  *    never touching the previous version;
  *  - a version is readable only once its `_SUCCESS` marker exists
  *    (written by Spark after the parquet commit);
  *  - `latest(path)` resolves the highest complete version;
  *  - on batch b, a caller that sees latest >= b SKIPS the merge (the
  *    batch was fully applied before the crash); a half-written `v=b`
  *    without `_SUCCESS` is invisible and simply overwritten by the
  *    replay, which re-merges from the intact previous version;
  *  - versions older than the previous one are pruned opportunistically
  *    (two survivors bound the storage while keeping the crash-recovery
  *    parent alive).
  *
  * Each version is a full copy: `applyBatch` writes `merge(prior, batch)`
  * whole, so a merge that unions the parent with the batch (as all of
  * `LayeredPipeline`'s do) costs O(state) per batch, not O(batch). An
  * O(batch) write would need the state split into key buckets and a
  * per-version manifest mapping each bucket to the version that last
  * wrote it, in place of the directory listing. */
object VersionedState {

  private def fs(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** THE committed-ness rule, in one place: a `v=N` directory under
    * `path` is committed iff its `_SUCCESS` marker exists. Producers
    * (`Kafka.txnProduce`), consumers (`Kafka.readCommitted`,
    * `LedgerSource`), retention (`Kafka.expireSegments`) and the state
    * protocol below must all resolve visibility through this rule, so a
    * future change to the commit protocol cannot fork the definition
    * between them. */
  def committedVersions(s: SparkSession, path: String): Seq[Long] = {
    val f = fs(s, path)
    versions(f, path).filter(v => marked(f, path, v, "_SUCCESS"))
  }

  /** Highest complete (committed) version id under `path`, if any. */
  def latestVersion(s: SparkSession, path: String): Option[Long] =
    latestMarked(s, path, "_SUCCESS")

  /** Highest committed version under `path` whose directory holds
    * `child` (a ledger segment that carries a given topic). */
  def latestVersionHolding(s: SparkSession, path: String,
                           child: String): Option[Long] =
    latestMarked(s, path, "_SUCCESS", child)

  /** Highest `v=N` under `path` holding every one of `markers`, checking
    * from the top down: one stat a marker when the newest version has
    * them. */
  private def latestMarked(s: SparkSession, path: String,
                           markers: String*): Option[Long] = {
    val f = fs(s, path)
    versions(f, path).sorted(Ordering[Long].reverse)
      .find(v => markers.forall(marked(f, path, v, _)))
  }

  private def marked(f: org.apache.hadoop.fs.FileSystem, path: String,
                     v: Long, marker: String): Boolean =
    f.exists(new org.apache.hadoop.fs.Path(s"$path/v=$v/$marker"))

  /** Every `v=N` directory version under `path`, complete or not. */
  private def versions(f: org.apache.hadoop.fs.FileSystem,
                       path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
  }

  /** The latest committed state frame, or `empty` if none. */
  def read(s: SparkSession, path: String, empty: => DataFrame): DataFrame =
    latestVersion(s, path) match {
      case Some(v) => s.read.parquet(s"$path/v=$v")
      case None    => empty
    }

  /** The latest committed state frame read with its known `schema`, so no
    * footer-inference job runs, or an empty frame of `schema` if none. */
  def readAs(s: SparkSession, path: String, schema: StructType): DataFrame =
    latestVersion(s, path) match {
      case Some(v) => s.read.schema(schema).parquet(s"$path/v=$v")
      case None    => s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    }

  /** Apply `merge(prior, batch)` for `batchId` exactly once: a replayed
    * batchId (<= latest committed version) is a no-op; a fresh one
    * merges against the latest version and commits `v=batchId`.
    * Returns true when the merge ran, false when it was skipped. */
  def applyBatch(s: SparkSession, path: String, batchId: Long,
                 batch: DataFrame, empty: => DataFrame,
                 merge: (DataFrame, DataFrame) => DataFrame): Boolean = {
    val latest = latestVersion(s, path)
    if (latest.exists(_ >= batchId)) return false
    // the parent is read with `empty`'s schema, so no footer-inference
    // job runs; the read needs no pin, since the write below goes to a
    // new `v=batchId` dir and the prune keeps the parent
    val prior = latest match {
      case Some(v) => s.read.schema(empty.schema).parquet(s"$path/v=$v")
      case None    => empty
    }
    merge(prior, batch).write.mode("overwrite").parquet(s"$path/v=$batchId")
    // prune everything older than the direct parent (crash between the
    // commit above and this prune only leaves extra history, never loss)
    val f = fs(s, path)
    latestVersion(s, path).foreach { cur =>
      val keep = Set(cur) ++ latest
      f.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
        .map(_.getPath).filter(_.getName.startsWith("v="))
        .filter(p => !keep.contains(p.getName.stripPrefix("v=").toLong))
        .foreach(p => f.delete(p, true))
    }
    true
  }

  // ---- multi-frame state ------------------------------------------------
  // The heavier twins keep SEVERAL keyed frames per version (IndexStream:
  // state + indexed; EffectiveSizeStream: hashes + bands + labels).
  // Per-subframe parquet `_SUCCESS` markers cannot make the trio atomic —
  // a crash between subframe writes would leave a version with some
  // frames new and some missing — so a version commits via ONE `_COMMIT`
  // marker written only after every subframe's parquet job committed.
  // Everything else (replay skip, half-written version invisible and
  // overwritten, prune keeps the direct parent) is the single-frame
  // protocol verbatim.

  private val CommitMarker = "_COMMIT"

  /** Highest version whose `_COMMIT` marker exists. */
  def latestVersionMulti(s: SparkSession, path: String): Option[Long] =
    latestMarked(s, path, CommitMarker)

  /** The latest committed multi-frame state, or `empty` if none. Frame
    * names must match the keys `applyBatchMulti` was given. */
  def readMulti(s: SparkSession, path: String, names: Seq[String],
                empty: => Map[String, DataFrame]): Map[String, DataFrame] =
    latestVersionMulti(s, path) match {
      case Some(v) =>
        names.map(n => n -> s.read.parquet(s"$path/v=$v/$n")).toMap
      case None => empty
    }

  /** Multi-frame [[applyBatch]]: merge runs at most once per batchId; all
    * result frames commit atomically under `path/v=batchId` behind one
    * `_COMMIT` marker. Returns true when the merge ran.
    *
    * `names` is the SAME explicit list [[readMulti]] takes — deriving the
    * prior read's frame set from `empty.keys` instead silently mismatched
    * a caller whose two lists diverged, and forced the by-name `empty`
    * map (which constructs empty DataFrames) to evaluate even when a
    * committed prior version made it dead (ADVICE r11). */
  def applyBatchMulti(s: SparkSession, path: String, batchId: Long,
                      batch: DataFrame, names: Seq[String],
                      empty: => Map[String, DataFrame],
                      merge: (Map[String, DataFrame], DataFrame)
                        => Map[String, DataFrame]): Boolean = {
    val latest = latestVersionMulti(s, path)
    if (latest.exists(_ >= batchId)) return false
    val prior = latest match {
      case Some(v) =>
        names.map(n => n -> s.read.parquet(s"$path/v=$v/$n")).toMap
      case None => empty
    }
    val next = merge(prior, batch)
    // pin every result before writing below the same root (read-modify-
    // write), then write all subframes, then the single commit marker
    val pinned = next.map { case (n, df) => n -> df.localCheckpoint(true) }
    pinned.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$path/v=$batchId/$n")
    }
    val f = fs(s, path)
    f.create(new org.apache.hadoop.fs.Path(s"$path/v=$batchId", CommitMarker),
      true).close()
    latestVersionMulti(s, path).foreach { cur =>
      val keep = Set(cur) ++ latest
      f.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
        .map(_.getPath).filter(_.getName.startsWith("v="))
        .filter(p => !keep.contains(p.getName.stripPrefix("v=").toLong))
        .foreach(p => f.delete(p, true))
    }
    true
  }
}
