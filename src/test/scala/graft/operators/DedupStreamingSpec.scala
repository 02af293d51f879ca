package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twin of the dedup/fingerprint pipeline (VERDICT r3 #7): the
  * training-data surface must run in the same two-mode architecture as the
  * reference-parity operators — the SAME transformation cores driven by
  * foreachBatch over a stream, with results matching the batch run over the
  * identical corpus.
  */
class DedupStreamingSpec extends SparkSpec {

  test("foreachBatch dedup pipeline: streamed simhash + exact dedup match batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    // small corpus with planted exact dups across micro-batch boundaries
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (4L, "sphinx of black quartz judge my vow"),
      (5L, "pack my box with five dozen liquor jugs"),     // dup of 2
      (6L, "how vexingly quick daft zebras jump"))
    val stage = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // map phase per micro-batch: simhash is per-document, so each batch
        // fingerprints independently; raw docs accumulate for the global
        // (reduce-side) exact-dedup pass
        val toks = batch.select(col("doc_id"),
          graft.functions.Text.tokens(col("text")).as("toks"))
        Dedup.simhashFingerprintsDf(toks)
          .write.mode("append").parquet(s"$stage/simhash")
        batch.write.mode("append").parquet(s"$stage/docs")
        (): Unit
      }
      .start()
    try {
      input.addData(corpus.take(3): _*)
      q.processAllAvailable()
      input.addData(corpus.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()

    val corpusDf = corpus.toDF("doc_id", "text")

    // streamed per-batch fingerprints == batch fingerprints over the corpus
    val streamedSim = s.read.parquet(s"$stage/simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchSim = Dedup.simhashFingerprintsDf(
        corpusDf.select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedSim === batchSim)
    // exact dups got identical fingerprints even across batch boundaries
    val byDoc = streamedSim.toMap
    assert(byDoc(1L) === byDoc(3L))
    assert(byDoc(2L) === byDoc(5L))

    // exact dedup over the accumulated staging corpus == direct batch run
    val stagedGroups = Dedup.exactDupGroupsDf(s.read.parquet(s"$stage/docs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batchGroups = Dedup.exactDupGroupsDf(corpusDf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stagedGroups === batchGroups)
    assert(stagedGroups.map(g => (g._2, g._3)) === Set((2L, 1L), (2L, 2L)))

    // and the within-stream exact dedup operator drops the cross-batch dup
    val input2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = input2.toDF().toDF("doc_id", "text", "ts")
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("content_hash")
    val q2 = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input2.addData(corpus.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(10000L + i)) }: _*)
      q2.processAllAvailable()
      val kept = s.table("dedup_stream").select("doc_id").as[Long].collect().toSet
      assert(kept.size === 4) // 6 docs, 2 dups dropped
      assert(Set(1L, 3L).intersect(kept).size === 1)
      assert(Set(2L, 5L).intersect(kept).size === 1)
    } finally q2.stop()
  }
}
