package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  test("q53 packing: doc_id-ordered, offsets within budget, bins contiguous") {
    val budget = 2048
    val rows = Corpus.packAssign(spark, sf, budget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // offset always inside the bin budget
    assert(rows.forall { case (_, _, _, off) => off >= 0 && off < budget })
    // replaying the greedy layout reproduces every assignment
    var cum = 0L
    rows.sortBy(_._1).foreach { case (_, n, bin, off) =>
      assert(bin === cum / budget, s"bin mismatch at cum=$cum")
      assert(off === cum % budget)
      cum += n
    }
    // (single shard at this SF: doc_ids < PackShardDocs)
    assert(rows.forall(_._1 < Corpus.PackShardDocs))
  }

  test("q54 chunks: full coverage, fixed stride, content-addressed spans") {
    val size = 32; val overlap = 8; val stride = size - overlap
    val chunks = Corpus.chunkSpans(spark, sf, size, overlap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byDoc = chunks.groupBy(_._1)
    val nTokens = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(graft.functions.Text.tokens(col("text"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      // spans advance by exactly `stride` and start at token 1
      sorted.zipWithIndex.foreach { case ((_, cid, start, end, _), i) =>
        assert(cid === i.toLong)
        assert(start === i.toLong * stride + 1)
        assert(end === math.min(start + size - 1, nTokens(doc)))
      }
      // the last chunk reaches the document's end (full coverage)
      assert(sorted.last._4 === nTokens(doc))
      // consecutive chunks overlap by `overlap` tokens (until the tail)
      sorted.sliding(2).foreach {
        case Array(a, b) if b._4 - b._3 + 1 == size =>
          assert(a._4 - b._3 + 1 === overlap.toLong)
        case _ => ()
      }
    }
    // chunk hashes are deterministic across runs
    val again = Corpus.chunkSpans(spark, sf, size, overlap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(chunks.map(c => (c._1, c._2, c._5)).sameElements(again))
  }

  test("training-corpus app: dedup -> keep -> pack/chunk composes with one clustering") {
    Dedup.clearClusterCache()
    val before = Dedup.clusteringRuns.get()
    val (kept, packed, chunks) = Corpus.trainingCorpusApp(spark, sf)
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    val packedRows = packed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val packedIds = packedRows.map(_._1).toSet
    val chunkIds = chunks.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // downstream stages see exactly the cleaned corpus
    assert(packedIds === keptIds)
    assert(chunkIds === keptIds)
    // the packing is a layout of the CLEANED corpus: replaying the greedy
    // fill over kept docs reproduces every bin/offset with NO holes where
    // dups were dropped (this fails if packing ran over the full corpus)
    var cum = 0L
    packedRows.sortBy(_._1).foreach { case (_, n, bin, off) =>
      assert(bin === cum / 2048)
      assert(off === cum % 2048)
      cum += n
    }
    // no dropped (non-root cluster member) doc leaks through
    val dropped = Dedup.sharedClusters(spark, sf)
      .filter(col("cluster") =!= col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptIds.intersect(dropped).isEmpty)
    // the whole app ran ONE clustering (keep set + drop check share it)
    assert(Dedup.clusteringRuns.get() - before === 1)
  }

  test("zero-token documents emit no chunks (no phantom shared-identity span)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "real words here"), (2L, "!!! ??? ..."), (3L, "")).toDF("doc_id", "text")
    val out = Corpus.chunkSpansDf(docs).collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L))
  }
}
