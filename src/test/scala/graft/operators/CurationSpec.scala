package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  test("q56: decontamination flags every non-test exact duplicate of a test doc") {
    // any train/val doc whose TEXT equals a test doc's text shares all its
    // 13-grams, so it must be flagged (provided the doc has >= 13 tokens)
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"),
        (graft.functions.PortableHash.h60(col("text")) % 100).as("bucket"),
        size(graft.functions.Text.tokens(col("text"))).as("n_toks"))
    val testTexts = docs.filter(col("bucket") >= 90)
      .select(col("text")).distinct()
    val mustFlag = docs.filter(col("bucket") < 90 && col("n_toks") >= 13)
      .join(testTexts, "text")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val flagged = Curation.decontaminate(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(mustFlag.subsetOf(flagged),
      s"unflagged exact dups of test docs: ${mustFlag -- flagged}")
  }

  test("q56: n_hits is positive and splits are train/val only") {
    val rows = Curation.decontaminate(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(2) >= 1L)
      assert(Set("train", "val").contains(r.getString(1)))
    }
  }

  test("q57: threshold-prefilter fast path equals exact per-stratum ranking") {
    val k = 40
    val exact = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        graft.functions.PortableHash.h60(col("text")).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val fast = Curation.stratifiedSample(spark, sf, k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fast === exact)
  }

  test("q57: every stratum delivers exactly min(k, stratum size) rows") {
    val k = 40
    val got = Curation.stratifiedSample(spark, sf, k)
      .groupBy(col("lang")).agg(count(lit(1)).as("got"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = graft.Tables.load(spark, sf, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === sizes.keySet)
    sizes.foreach { case (lang, n) =>
      assert(got(lang) === math.min(k.toLong, n), s"stratum $lang")
    }
  }

  test("q58: epochs are the integer mixture rate realized by content hash") {
    val budget = 100000L
    val sumW = Curation.domainWeights.map(_._2).sum
    val wMap = Curation.domainWeights.toMap
    val out = Curation.domainMix(spark, sf, budget).collect()
    // recompute per-source totals driver-side and check each doc's epochs
    val tokensBySource = out.groupBy(_.getString(1))
      .map { case (src, rows) => src -> rows.map(_.getLong(2)).sum }
    val hmods = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        (graft.functions.PortableHash.h60(col("text")) % 1000000L).as("hmod"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (id, src, epochs) = (r.getLong(0), r.getString(1), r.getLong(3))
      val ratePpm = (budget * wMap(src) / sumW) * 1000000L / tokensBySource(src)
      val expected = ratePpm / 1000000L +
        (if (hmods(id) < ratePpm % 1000000L) 1L else 0L)
      assert(epochs === expected, s"doc $id source $src")
    }
  }

  test("q58: realized token mass tracks the per-source target") {
    val budget = 100000L
    val sumW = Curation.domainWeights.map(_._2).sum
    val out = Curation.domainMix(spark, sf, budget).collect()
    Curation.domainWeights.foreach { case (src, w) =>
      val target = budget * w / sumW
      val realized = out.filter(_.getString(1) == src)
        .map(r => r.getLong(2) * r.getLong(3)).sum
      // the hash-Bernoulli realization concentrates around the target; a
      // generous band guards semantics, not statistics
      assert(realized <= target * 2,
        s"$src realized $realized >> target $target")
    }
  }

  test("q59: funnel stages are monotone and consistent with their source operators") {
    val rows = Curation.curationFunnel(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet === Set(1, 2, 3, 4))
    // cumulative attrition: docs and tokens never increase down the funnel
    (1 to 3).foreach { i =>
      assert(rows(i)._2 >= rows(i + 1)._2, s"stage $i -> ${i + 1} docs")
      assert(rows(i)._3 >= rows(i + 1)._3, s"stage $i -> ${i + 1} tokens")
    }
    assert(rows(1)._2 === graft.Tables.load(spark, sf, "documents").count())
    // stage 3's attrition equals the shared clustering's non-root count
    // restricted to quality survivors — spot-check the join wiring by
    // recomputing stage 3 from the component operators
    val dropped = Dedup.sharedClusters(spark, sf)
      .filter(col("cluster") =!= col("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val quality = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(graft.functions.Text.tokens(col("text"))).cast("long").as("nt"),
        round(length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          .cast("double") / length(col("text")).cast("double"), 6).as("ar"))
      .filter(col("nt") >= 10 && col("ar") >= 0.5)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(rows(3)._2 === (quality -- dropped).size.toLong)
  }

  test("q62: packed curated corpus covers exactly the funnel's stage-4 docs, hole-free") {
    val packed = Corpus.curatedCorpusApp(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val stage4 = Curation.curationFunnel(spark, sf).collect()
      .find(_.getInt(0) == 4).get
    assert(packed.length.toLong === stage4.getLong(2))
    assert(packed.map(_._2).sum === stage4.getLong(3))
    // layout is computed over survivors: within each shard, offsets are the
    // contiguous running sum of survivor token counts (no dup/contam holes)
    packed.groupBy { case (id, _, _, _) =>
      id / graft.operators.Corpus.PackShardDocs
    }.foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (_, n, bin, off) =>
        assert(off === cum % 2048, s"hole before doc at bin $bin")
        cum += n
      }
    }
  }

  test("curation family tokenizes the corpus exactly once (shared artifact)") {
    // VERDICT r6 #3: q59/q62 used to re-derive n_tokens/alpha_ratio from
    // raw text per consumer (tokenization visible TWICE in q62's plan).
    // With the scalar docFeatures artifact, the only tokenization left in
    // any consumer plan is decontaminate's gram pass (which needs the
    // tokens themselves); the count/ratio features come from the
    // checkpointed artifact.
    def nTokenize(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("[^a-z]"), "alpha-ratio regex re-run in consumer plan")
      var (n, i) = (0, 0)
      while ({ i = plan.indexOf("[^a-z0-9]+", i); i >= 0 }) { n += 1; i += 1 }
      n
    }
    Curation.clearFeatureCache()
    Curation.docFeatures(spark, sf) // build once (lineage is cut here)
    // 2 tokenizer sites = decontaminate's broadcast side + probe side,
    // over DISJOINT bucket slices (10% + 90%): one corpus tokenization of
    // total work. Before the artifact, q62 also re-tokenized for the
    // quality flags and the packing counts.
    assert(nTokenize(Corpus.curatedCorpusApp(spark, sf)) === 2)
    assert(nTokenize(Curation.curationFunnel(spark, sf)) === 2)
    assert(nTokenize(Curation.decontaminate(spark, sf)) === 2)
    // the sampling/mixture consumers never touch text at all
    for (df <- Seq(Curation.stratifiedSample(spark, sf),
        Curation.domainMix(spark, sf))) {
      assert(nTokenize(df) === 0)
      assert(!df.queryExecution.executedPlan.toString.contains("documents.parquet"),
        "raw corpus re-scanned")
    }
    // and the artifact is one shared instance per (session, dir)
    assert(Curation.docFeatures(spark, sf) eq Curation.docFeatures(spark, sf))
  }

  test("feature-store checkpoint: incremental refresh equals full recompute; re-delivery appends nothing") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files
      .createTempDirectory("graft-feat-store").toString + "/feats"
    val docs = graft.Tables.load(spark, sf, "documents")
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(ids.length > 100)
    // three uneven growth snapshots of the corpus, refreshed in order
    val cuts = Seq(ids(ids.length / 5), ids(ids.length / 2), ids.last)
    var store: org.apache.spark.sql.DataFrame = null
    cuts.foreach { hi =>
      store = Curation.refreshFeatureStore(spark, path,
        docs.filter(col("doc_id") <= hi))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getValuesMap[Any](df.columns.toSeq)).toSet
    val full = Curation.docFeaturesOf(docs,
      passthrough = Seq("lang", "source", "n_chars"))
    assert(store.columns.sorted.toSeq === full.columns.sorted.toSeq)
    assert(rows(store.select(full.columns.map(col): _*)) === rows(full))
    // at-least-once upstream: re-delivering an ingested snapshot no-ops
    val again = Curation.refreshFeatureStore(spark, path,
      docs.filter(col("doc_id") <= cuts.head))
    assert(again.count() === ids.length.toLong)
  }

  test("q90 snapshot diff: classes partition the union of both snapshots") {
    import org.apache.spark.sql.functions.col
    val n = graft.Tables.load(spark, sf, "documents").count()
    val rows = Curation.corpusDiff(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === Set("added", "removed", "changed", "unchanged"))
    // every doc_id lands in exactly one class (union of both snapshots
    // covers the whole corpus: <10 removed-only, >=90 added-only)
    assert(rows.values.sum === n)
    // the deterministic modulo derivation: ~10% each for added/removed,
    // ~10% changed, rest unchanged
    assert(rows("changed") > 0 && rows("added") > 0 && rows("removed") > 0)
    assert(rows("unchanged") > rows("changed"))
  }

  test("q56/q58 plans: eval grams and mixture rates broadcast (no corpus-side shuffle join)") {
    Seq(Curation.decontaminate(spark, sf), Curation.domainMix(spark, sf))
      .foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
        assert(!plan.contains("CartesianProduct"))
      }
  }
}
