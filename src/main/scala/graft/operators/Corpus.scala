package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{PortableHash, Text}

/** Corpus-assembly operators for the training-data pipeline: sequence
  * packing (concat-then-chunk budgeting of documents into fixed token
  * windows) and overlapping chunk spans (the RAG/pretraining chunking
  * step). Both are deterministic pure functions of the corpus, with
  * DuckDB-mirrorable integer arithmetic and [[PortableHash]] content
  * hashes, so the driver verifies them rows+schema+hash.
  */
object Corpus {

  /** Documents per packing shard: the running-offset window runs WITHIN a
    * shard, so the global sort is bounded and shards pack in parallel —
    * at 100 TB the corpus never funnels through one ordering task. The
    * cost is at most one under-filled bin per shard boundary (identical
    * trade to any sharded concat-then-chunk pipeline). */
  val PackShardDocs = 100000L

  /** Bin-id namespace per shard (2^30): collision across shards would need
    * a single shard to exceed 2^30 bins — budget × 2^30 tokens (≈2.2e12 at
    * the default budget, ~22M tokens per doc) — far beyond any real
    * corpus shape; the headroom is checked structurally by the spec's
    * layout replay. */
  val PackBinsPerShard = 1L << 30

  /** q53 — sequence-packing assignment: documents are laid end-to-end in
    * doc_id order (deterministic, reshard-stable) and cut into bins of
    * `budget` tokens; each doc is assigned the bin where it STARTS, with
    * its token offset inside that bin. This is the standard greedy
    * concat-then-chunk packing (a doc may run past its bin boundary into
    * the next — the chunker, not the packer, splits); bin ids are unique
    * via (shard, local bin) encoding. One narrow window per shard; the
    * shuffle carries (doc_id, n_tokens) only. */
  def packAssign(s: SparkSession, dir: String, budget: Int = 2048): DataFrame =
    packAssignDf(Tables.load(s, dir, "documents"), budget)

  /** Core of [[packAssign]] over any (doc_id, text) frame — the layout is
    * a function of the frame it is given, so packing a CLEANED corpus
    * (post-dedup) lays out only the surviving docs (see
    * [[trainingCorpusApp]]). */
  def packAssignDf(docs: DataFrame, budget: Int = 2048): DataFrame =
    packAssignCounts(docs.select(col("doc_id"),
      size(Text.tokens(col("text"))).cast("long").as("n_tokens")), budget)

  /** Layout over PRECOMPUTED (doc_id, n_tokens) counts — the entry point
    * for pipelines that already materialized per-doc token counts (the
    * q62 curation family reads `Curation.docFeatures`, so packing reuses
    * the one tokenization pass instead of re-deriving it). */
  def packAssignCounts(counts: DataFrame, budget: Int = 2048): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("shard", expr(s"doc_id div $PackShardDocs"))
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("shard") * PackBinsPerShard + expr(s"cum_before div $budget")).as("bin"),
        (col("cum_before") % budget).as("bin_offset"))
      .orderBy(col("doc_id"))
  }

  /** q54 — overlapping chunk spans: each document splits into windows of
    * `size` tokens advancing by `size - overlap` (the pretraining/RAG
    * chunking step). Emits 1-based token spans plus the portable content
    * hash of each chunk's joined tokens — the downstream identity for
    * chunk-level dedup. Per-row explode; no shuffle beyond the output.
    * Chunk count = ceil((n - overlap) / stride), min 1 — every token is
    * covered and consecutive chunks share `overlap` tokens. */
  def chunkSpans(s: SparkSession, dir: String,
                 size: Int = 32, overlap: Int = 8): DataFrame =
    chunkSpansDf(Tables.load(s, dir, "documents"), size, overlap)

  /** Core of [[chunkSpans]] over any (doc_id, text) frame. Zero-token
    * documents emit NO chunks (a phantom (1, 0) span would give every
    * empty doc one shared h60("") identity and an invalid inclusive
    * range). */
  def chunkSpansDf(docs: DataFrame, size: Int = 32, overlap: Int = 8): DataFrame = {
    require(size > overlap && overlap >= 0, s"need size > overlap >= 0: $size/$overlap")
    val stride = size - overlap
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n", size_(col("toks")))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        greatest(lit(1L), expr(s"(n - $overlap + $stride - 1) div $stride")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * stride + 1)
      .withColumn("end_tok", least(col("start_tok") + (size - 1), col("n")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("end_tok"),
        PortableHash.h60(array_join(
          slice(col("toks"), col("start_tok"), col("end_tok") - col("start_tok") + 1),
          " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q55 — the training-data pipeline composed end to end: near-dup
    * cluster the corpus on the LSH candidate edges (ONE clustering, shared
    * by the keep set), keep one doc per cluster, then pack the surviving
    * docs into token-budget bins and cut overlapping chunk spans. Returns
    * (kept, packed, chunks) frames; every stage is the same operator a
    * declared query verifies (q48/q49/q53/q54), so this composition is
    * oracle-grade by construction. The keep-set join is a left-semi
    * against a metadata-sized id list — the corpus itself never shuffles
    * on its way into packing/chunking. */
  def trainingCorpusApp(spark: SparkSession, dir: String,
                        budget: Int = 2048, chunkSize: Int = 32,
                        chunkOverlap: Int = 8): (DataFrame, DataFrame, DataFrame) = {
    // shares q48's cached clustering; ordered = false — `kept` only ever
    // feeds the left-semi join below, so a presentation sort is dead work
    val kept = Dedup.dedupKeepSet(spark, dir, ordered = false)
    // pack/chunk the CLEANED corpus: the layout must be computed over the
    // surviving docs, or dropped dups leave token-sized holes in the bins
    // (filtering the pack output instead of its input would do exactly
    // that)
    val cleaned = Tables.load(spark, dir, "documents")
      .join(kept, Seq("doc_id"), "left_semi")
    (kept, packAssignDf(cleaned, budget),
      chunkSpansDf(cleaned, chunkSize, chunkOverlap))
  }

  /** q62 — the FULL curation composition: quality filter → near-dup
    * removal → train-split decontamination → sequence packing. Same
    * layout-over-survivors rule as [[trainingCorpusApp]] — the packing is
    * computed on the curated doc set, never filtered after the fact — but
    * the survivor set is the funnel's stage 4 (q59), not just dedup. */
  def curatedCorpusApp(spark: SparkSession, dir: String,
                       budget: Int = 2048): DataFrame =
    // token counts come from the shared feature artifact — the whole
    // curation composition tokenizes the corpus exactly ONCE (inside
    // docFeatures' checkpointed build), not once per stage. The flag
    // frame CARRIES n_tokens through from that artifact, so no per-doc
    // join re-derives a column the survivors already hold.
    packAssignCounts(Curation.curationFlags(spark, dir)
      .filter(col("pq") && col("kept") && col("clean"))
      .select(col("doc_id"), col("n_tokens")), budget)

  // size() collides with the local `size` param name inside chunkSpans
  private def size_(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c).cast("long")
}
